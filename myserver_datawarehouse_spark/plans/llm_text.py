"""LLM-training-data text pipeline over the `documents` table: exact and
near dedup, quality scoring, language ID, fingerprinting.

The reference has no document processing (its one text op is the MD5
color hash, populate_sources_dag.py:62-72); these operators are the
large-scale-pipeline addendum from SURVEY.md. Every query here has a
bit-exact DuckDB oracle: both engines derive all hashes from the shared
md5->60-bit primitive (operators/text.py `hash60`), so even the LSH
banding and SimHash pair sets match exactly by construction.

Scale notes (100 TB):
- Signatures (minhash/simhash/winnow) run over ROW-wise hashed
  shingles/tokens (operators/text.shingle_rows + codegen'd aggregates):
  one md5 per position, map-side partial MIN/SUM — Spark's higher-order
  array lambdas are interpreted, so the array forms exist only for
  array-level callers, not the query paths.
- Near-dup joins are BUCKETED (LSH band keys / simhash chunks), never
  all-pairs: the shuffle key space is ~#docs x bands, and bucket
  population is bounded by collision rate, not corpus size.
- `ngram_jaccard_pairs` (the exact-recall baseline for LSH tuning) is a
  distributed set-similarity join: pair intersection sizes come from an
  equi-join on the shingle hash, so cost is sum over shingles of
  frequency^2 — bounded by shingle hotness, not corpus^2. It still runs
  on a deterministic doc_id sample because auditing LSH recall on a
  slice is its job.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from myserver_datawarehouse_spark.functions.scalar import (
    md5_fingerprint as _fingerprint,
)
from myserver_datawarehouse_spark.operators import text as TX
from myserver_datawarehouse_spark.session import materialize
from myserver_datawarehouse_spark.sources.tables import load_table

# ---------------------------------------------------------------- params

SHINGLE_K = 3
MINHASH_N = 16
LSH_BANDS = 8
LSH_ROWS = 2
JACCARD_TAU = 0.5
SIMHASH_CHUNKS = 4
HAMMING_MAX = SIMHASH_CHUNKS - 1  # pigeonhole guarantee of chunk banding
WINNOW_WINDOW = 4
SAMPLE_MOD = 4  # ngram_jaccard_pairs doc_id sample

# Shared oracle fragments -------------------------------------------------

_NORM_SQL = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"

_TOKS_SQL = f"""
  SELECT doc_id, lang, source,
         {_NORM_SQL} AS norm,
         string_split({_NORM_SQL}, ' ') AS tks
  FROM documents
"""


def _d_hash60(expr: str, seed=None) -> str:
    """DuckDB twin of operators/text.hash60 (verified bit-identical)."""
    if seed is not None:
        expr = f"'{seed}|' || ({expr})"
    return f"('0x' || substring(md5({expr}), 1, 15))::BIGINT"


# k=3 positional shingles; DuckDB generate_series(1,0) is already empty
# for short docs (Spark side needs the explicit guard in TX.shingles).
_SH_POS_SQL = (
    "[array_to_string(tks[i:i+2], ' ') "
    "FOR i IN generate_series(1, len(tks) - 2)]"
)
_SH_SQL = f"""
  SELECT doc_id, list_distinct({_SH_POS_SQL}) AS sh
  FROM toks
"""

_STOP_SQL = "('" + "', '".join(TX.STOPWORDS) + "')"
_STOP_LIST_SQL = "['" + "', '".join(TX.STOPWORDS) + "']"  # DuckDB list literal


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# ---------------------------------------------------------------- dedup


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content sha256: one row per distinct
    content, with the canonical (min) doc_id and the copy count.

    At 100 TB this is one hash-aggregate shuffle on a 64-char key with
    map-side partials — the cheapest possible dedup.
    """
    d = _docs(spark, sf_dir)
    return (
        d.select(TX.content_hash("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("content_hash")
    )


DEDUP_EXACT_SQL = f"""
WITH toks AS ({_TOKS_SQL})
SELECT sha256(norm) AS content_hash,
       MIN(doc_id) AS canonical_doc_id,
       COUNT(*) AS n_copies
FROM toks
GROUP BY 1
ORDER BY content_hash
"""


def _minhash_pair_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered MinHash-LSH near-dup pairs (doc_a, doc_b, jaccard) —
    shared by `near_dup_minhash_lsh` (its ordered presentation surface)
    and `dedup_clusters` (the edge set for component labeling).

    MinHash + LSH near-duplicate pairs (shingle k=3, 16 hashes,
    8 bands x 2 rows, Jaccard >= 0.5 verified exactly on candidates).

    Shape: signature (array-local) -> explode band keys -> self-join on
    band key (the ONLY all-to-all step, keyed by bucket) -> distinct
    candidate pairs -> exact-Jaccard verify. Candidate volume scales with
    bucket collisions, not corpus^2. The oracle mirrors the banding, so
    candidacy itself — not just the final filter — is compared.
    """
    return _minhash_pairs_for(_docs(spark, sf_dir))


def _shingle_hashes(d: DataFrame) -> DataFrame:
    """The distinct (doc_id, shingle-hash) rows of a (doc_id, text)
    frame, unmaterialized."""
    return (
        TX.shingle_rows(d, SHINGLE_K)
        .select("doc_id", TX.hash60("g").alias("h"))
        .distinct()
    )


def _shingle_hash_frame(d: DataFrame) -> DataFrame:
    """The materialized distinct (doc_id, shingle-hash) frame — the ONE
    table a production dedup stack persists and feeds to every member
    (LSH signatures, prefix-filter join, recall audit). Materialized
    because every consumer reads it multiple times (see the callers'
    comments); at 100 TB it is a persisted intermediate, not a
    recompute-per-pass lineage."""
    return materialize(_shingle_hashes(d))


def _minhash_signature_bands(
    hs: DataFrame, *band_cols: Column
) -> tuple[DataFrame, DataFrame]:
    """((doc_id, n, sig), (doc_id, bk, *band_cols)) over a (doc_id, h)
    shingle-hash frame: the MINHASH_N MinHash slots as codegen'd MIN
    aggregates (map-side partials, not higher-order array folds) with
    the shingle-set size n riding along in the same groupBy, then one
    row per LSH band key (LSH_BANDS bands of LSH_ROWS rows)."""
    p = F.lit(TX.MINHASH_P)
    sig = (
        hs.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.min((F.lit(a) * (F.col("h") % p) + b) % p).alias(f"s{i}")
                for i, (a, b) in enumerate(TX.minhash_params(MINHASH_N))
            ],
        )
        .select(
            "doc_id",
            "n",
            F.array(*[f"s{i}" for i in range(MINHASH_N)]).alias("sig"),
        )
    )
    bands = sig.select(
        "doc_id",
        F.explode(TX.lsh_band_keys("sig", LSH_BANDS, LSH_ROWS)).alias("bk"),
        *band_cols,
    )
    return sig, bands


def _minhash_band_candidates(
    hs: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """(distinct LSH band-collision candidate pairs, per-doc set sizes)
    over the shared shingle-hash frame — the first half of
    `_minhash_pairs_for`, factored out so an audit that already holds
    the exact >= tau pair set (`lsh_recall_audit`) can semi-join the
    CANDIDATES directly and skip the per-candidate Jaccard verify:
    exact ∩ verified(cand) == exact ∩ cand, because every exact pair
    has jaccard >= tau by the prefix-filter theorem and the verify
    computes the identical rounded jaccard — the filter can only drop
    pairs the exact side already excludes."""
    sig, bands = _minhash_signature_bands(hs)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return cand, sig.select("doc_id", "n")


def _minhash_pairs_for(d: DataFrame, hs: DataFrame | None = None) -> DataFrame:
    """The LSH pair plan over any (doc_id, text) frame — the corpus for
    the standalone queries, the curation survivors for the composed
    corpus build. Pass `hs` (the materialized distinct (doc_id, h)
    shingle-hash frame) to share it with another tier in the same
    query (lsh_recall_audit shares it with the prefix filter); default
    builds it, plan-identical to pre-round-11."""
    # Everything runs over ROW-wise hashed shingles (one codegen'd md5 per
    # position — see operators/text.shingle_rows; the array-HOF form costs
    # ~10s/pass at sf0.1 on Spark's interpreted lambda path):
    # - the 16 signature slots are codegen'd MIN aggregates over the
    #   hashed rows (map-side partials), not higher-order array folds;
    # - candidate verification counts shared hashes per candidate pair via
    #   an equi-join on the hash value — no per-pair array intersect.
    # Docs with zero shingles drop out at the explode instead of carrying
    # all-NULL signatures; their candidate pairs were jaccard-NULL-
    # filtered anyway (identically in the oracle).
    if hs is None:
        # Three downstream passes read hs (the signature aggregate and
        # both sides of the verify join) — the shared materialized
        # frame keeps that to one shingle pass (measured 2.5x on the
        # whole pair plan at sf0.1).
        hs = _shingle_hash_frame(d)
    cand, sizes = _minhash_band_candidates(hs)
    inter = (
        F.broadcast(cand)
        .join(hs.alias("ha"), F.col("doc_a") == F.col("ha.doc_id"))
        .join(
            hs.alias("hb"),
            (F.col("doc_b") == F.col("hb.doc_id"))
            & (F.col("ha.h") == F.col("hb.h")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    ).cast("double")
    return (
        inter.join(
            F.broadcast(
                sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
            ),
            "doc_b",
        )
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_TAU)
    )


def near_dup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-duplicate pairs; see `_minhash_pair_frame` for
    the full plan shape."""
    return _minhash_pair_frame(spark, sf_dir).orderBy("doc_a", "doc_b")


_MINHASH_P = TX.MINHASH_P
_MH_BASE_SQL = f"[({_d_hash60('x')}) % {_MINHASH_P} FOR x IN sh]"
_MINHASH_SQL = (
    "["
    + ", ".join(
        f"list_min([({a} * h + {b}) % {_MINHASH_P} FOR h IN mh])"
        for a, b in TX.minhash_params(MINHASH_N)
    )
    + "]"
)


def _band_key_sql(b: int) -> str:
    slots = " || ',' || ".join(
        f"sig[{b * LSH_ROWS + r + 1}]::VARCHAR" for r in range(LSH_ROWS)
    )
    return f"'{b}:' || ({_d_hash60(slots, seed=b)})::VARCHAR"


_BAND_KEYS_SQL = "[" + ", ".join(_band_key_sql(b) for b in range(LSH_BANDS)) + "]"

NEAR_DUP_MINHASH_LSH_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
sh AS ({_SH_SQL}),
-- distinct raw 60-bit shingle hashes: the verify set (hash collisions, if
-- any, collapse identically to the Spark equi-join-on-hash count)
mhd AS (SELECT doc_id, list_distinct([{_d_hash60('x')} FOR x IN sh]) AS mh
        FROM sh),
mhb AS (SELECT doc_id, {_MH_BASE_SQL} AS mh FROM sh),
sig AS (SELECT doc_id, {_MINHASH_SQL} AS sig FROM mhb),
bands AS (SELECT doc_id, unnest({_BAND_KEYS_SQL}) AS bk FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT c.doc_a, c.doc_b,
         ROUND(CAST(len(list_intersect(sa.mh, sb.mh)) AS DOUBLE)
               / CAST(len(sa.mh) + len(sb.mh)
                      - len(list_intersect(sa.mh, sb.mh)) AS DOUBLE),
               6) AS jaccard
  FROM cand c
  JOIN mhd sa ON sa.doc_id = c.doc_a
  JOIN mhd sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, jaccard FROM pairs
WHERE jaccard >= {JACCARD_TAU}
ORDER BY doc_a, doc_b
"""


def near_dup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs: 60-bit signatures, 4x15-bit chunk
    banding, hamming distance <= 3 (the pigeonhole-complete radius).

    Join key is (chunk_idx, chunk_value): at 100 TB the candidate volume
    per 15-bit bucket is corpus/32768 per chunk — bounded fan-out, no
    all-pairs. Exactly mirrors the oracle bit-for-bit.
    """
    d = _docs(spark, sf_dir)
    # Votes via explode + 60 codegen'd conditional SUMs instead of the
    # higher-order fold (operators/text.simhash_from_hashes — kept for
    # array-level callers): per-token rows hash once each, the 60 bit
    # sums run in one whole-stage-codegen hash aggregate with map-side
    # partials, and the fold's interpreted 60-wide zip_with disappears
    # (measured ~5x on this query at sf0.1). `split` always yields >= 1
    # token, so no doc is lost to the explode.
    th = d.select("doc_id", F.explode(TX.tokenize("text")).alias("t")).select(
        "doc_id", TX.hash60("t").alias("h")
    )
    votes = th.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(TX.SIMHASH_BITS)
        ]
    )
    bit_terms = [
        F.when(F.col(f"v{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        for i in range(TX.SIMHASH_BITS)
    ]
    total = bit_terms[0]
    for t in bit_terms[1:]:
        total = total + t
    sim = votes.select("doc_id", total.alias("simhash"))
    chunks = sim.select(
        "doc_id",
        "simhash",
        F.posexplode(TX.simhash_chunks("simhash", SIMHASH_CHUNKS)).alias("c", "cv"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            TX.hamming60(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= HAMMING_MAX).orderBy("doc_a", "doc_b")


_CHUNK_W = TX.SIMHASH_BITS // SIMHASH_CHUNKS
_CHUNK_MASK = (1 << _CHUNK_W) - 1

NEAR_DUP_SIMHASH_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
hs AS (SELECT doc_id, [{_d_hash60('x')} FOR x IN tks] AS hashes FROM toks),
votes AS (
  SELECT doc_id,
         [CAST(list_sum([CASE WHEN ((h >> i) & 1) = 1 THEN 1 ELSE -1 END
                          FOR h IN hashes]) AS BIGINT)
          FOR i IN generate_series(0, {TX.SIMHASH_BITS - 1})] AS v
  FROM hs
),
sim AS (
  SELECT doc_id,
         CAST(list_sum([CASE WHEN v[i + 1] > 0 THEN (1::BIGINT << i)
                             ELSE 0::BIGINT END
                        FOR i IN generate_series(0, {TX.SIMHASH_BITS - 1})])
              AS BIGINT) AS simhash
  FROM votes
),
chunks AS (
  SELECT doc_id, simhash, c,
         CAST((simhash >> (c * {_CHUNK_W})) & {_CHUNK_MASK} AS INT) AS cv
  FROM sim, LATERAL unnest(generate_series(0, {SIMHASH_CHUNKS - 1})) AS u(c)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM chunks a
  JOIN chunks b ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM pairs
WHERE hamming <= {HAMMING_MAX}
ORDER BY doc_a, doc_b
"""


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs 3-gram Jaccard (>= 0.5) on a deterministic
    doc_id % {SAMPLE_MOD} sample — the recall baseline the LSH variants
    are judged against in tests.

    All-pairs is O(n^2) BY DESIGN and test-scale-only; the sample bound
    keeps it so. The production path at 100 TB is near_dup_minhash_lsh.
    """
    d = _docs(spark, sf_dir).filter(F.col("doc_id") % SAMPLE_MOD == 0)
    # Per-pair cost is what kills an O(n^2) baseline: intersect 60-bit
    # shingle HASHES (long arrays — far cheaper than string compares) and
    # derive the union size as na + nb - inter instead of materializing
    # the union. Hash values are the shared md5 primitive, so the oracle
    # sees identical sets (collisions, if any, collapse identically).
    # Distributed set-similarity join: explode each doc's distinct shingle
    # HASHES and equi-join on the hash value — a pair's match count IS its
    # intersection size, so no per-pair array intersect ever runs and the
    # shuffle key is the shingle hash (a pair costs one row per shared
    # shingle, bounded by shingle frequency). Union size is na + nb -
    # inter. Pairs sharing no shingle never materialize — they can't pass
    # tau > 0 anyway. Hash values are the shared md5 primitive, so the
    # oracle sees identical sets (collisions, if any, collapse
    # identically).
    h = (
        TX.shingle_rows(d, SHINGLE_K)
        .select("doc_id", TX.hash60("g").alias("h"))
        .distinct()
    )
    sizes = h.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        h.alias("a")
        .join(
            h.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # Size prune (J <= min-size/max-size) on the counted pairs — same
    # surviving set as the oracle's join-condition prune.
    sized = (
        inter.join(
            F.broadcast(
                sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
            ),
            "doc_b",
        )
        .filter(
            F.least("na", "nb").cast("double")
            >= JACCARD_TAU * F.greatest("na", "nb")
        )
    )
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    ).cast("double")
    return (
        sized.select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_TAU)
        .orderBy("doc_a", "doc_b")
    )


NGRAM_JACCARD_PAIRS_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
sh AS (
  SELECT doc_id, list_distinct({_SH_POS_SQL}) AS sh
  FROM toks WHERE doc_id % {SAMPLE_MOD} = 0
),
mh AS (
  SELECT doc_id, list_distinct([{_d_hash60('x')} FOR x IN sh]) AS mh,
         len(list_distinct([{_d_hash60('x')} FOR x IN sh])) AS n
  FROM sh
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         ROUND(CAST(len(list_intersect(a.mh, b.mh)) AS DOUBLE)
               / CAST(a.n + b.n - len(list_intersect(a.mh, b.mh)) AS DOUBLE),
               6) AS jaccard
  FROM mh a JOIN mh b
    ON a.doc_id < b.doc_id
   AND CAST(least(a.n, b.n) AS DOUBLE) >= {JACCARD_TAU} * greatest(a.n, b.n)
)
WHERE jaccard >= {JACCARD_TAU}
ORDER BY doc_a, doc_b
"""


# ------------------------------------------------------- quality / stats


def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features + tier: token/unique/stopword counts
    and ratios, normalized length, CASE-tiered quality label.

    Pure array math per row (no shuffle at all until the final sort);
    the 100 TB plan is a single codegen'd scan.
    """
    d = _docs(spark, sf_dir)
    tks = TX.tokenize("text")
    n_tok = F.size(tks)
    n_uniq = F.size(F.array_distinct(tks))
    n_stop = F.size(F.filter(tks, lambda t: t.isin(*TX.STOPWORDS)))
    uniq_ratio = F.round(n_uniq.cast("double") / n_tok.cast("double"), 6)
    stop_ratio = F.round(n_stop.cast("double") / n_tok.cast("double"), 6)
    return (
        d.select(
            "doc_id",
            n_tok.alias("n_tokens"),
            n_uniq.alias("n_uniq_tokens"),
            n_stop.alias("n_stopwords"),
            uniq_ratio.alias("uniq_ratio"),
            stop_ratio.alias("stop_ratio"),
            F.length(TX.normalize_text("text")).alias("n_chars_norm"),
            _fingerprint(TX.normalize_text("text")).alias("fingerprint"),
        )
        .withColumn(
            "quality",
            F.when(
                (F.col("n_tokens") >= 30)
                & (F.col("uniq_ratio") >= 0.25)
                & (F.col("stop_ratio") <= 0.3),
                F.lit("good"),
            )
            .when(F.col("n_tokens") >= 10, F.lit("fair"))
            .otherwise(F.lit("poor")),
        )
        .orderBy("doc_id")
    )


TEXT_QUALITY_SCORES_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
feat AS (
  SELECT doc_id,
         len(tks) AS n_tokens,
         len(list_distinct(tks)) AS n_uniq_tokens,
         len([t FOR t IN tks IF t IN {_STOP_SQL}]) AS n_stopwords,
         ROUND(CAST(len(list_distinct(tks)) AS DOUBLE) / len(tks), 6) AS uniq_ratio,
         ROUND(CAST(len([t FOR t IN tks IF t IN {_STOP_SQL}]) AS DOUBLE)
               / len(tks), 6) AS stop_ratio,
         length(norm) AS n_chars_norm,
         substring(md5(norm), 1, 16) AS fingerprint
  FROM toks
)
SELECT *,
       CASE WHEN n_tokens >= 30 AND uniq_ratio >= 0.25 AND stop_ratio <= 0.3
              THEN 'good'
            WHEN n_tokens >= 10 THEN 'fair'
            ELSE 'poor' END AS quality
FROM feat
ORDER BY doc_id
"""


def text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus stats per (lang, source): doc/token/char rollup.

    One hash-aggregate shuffle on a tiny key space; the token counting
    itself is map-side array math.
    """
    d = _docs(spark, sf_dir)
    tks = TX.tokenize("text")
    return (
        d.select(
            "lang",
            "source",
            F.size(tks).alias("n_tok"),
            F.length(TX.normalize_text("text")).alias("n_chars"),
        )
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("sum_tokens"),
            F.round(
                F.sum("n_tok").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_tokens"),
            F.max("n_chars").alias("max_chars"),
            F.min("n_chars").alias("min_chars"),
        )
        .orderBy("lang", "source")
    )


TEXT_STATS_BY_LANG_SQL = f"""
WITH toks AS ({_TOKS_SQL})
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(tks)) AS BIGINT) AS sum_tokens,
       ROUND(CAST(SUM(len(tks)) AS DOUBLE) / COUNT(*), 6) AS avg_tokens,
       MAX(length(norm)) AS max_chars,
       MIN(length(norm)) AS min_chars
FROM toks
GROUP BY 1, 2
ORDER BY lang, source
"""


# Marker-token profiles for the n-gram/stopword language-ID heuristic.
# Tiny embedded profiles (shared literal with the oracle); real pipelines
# swap in fastText-style models via the same argmax shape.
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "que", "una", "y"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),
}
_LANG_ORDER = tuple(LANG_MARKERS)  # tie-break priority, shared with oracle


def _lang_pred_expr(tks):
    """Marker-token argmax language prediction over a token-array column;
    'und' when no marker hits. Shared by lang_id_confusion and the
    curation pipeline (identical CASE priority in both oracles)."""

    # NB: a `lambda t, m=m:` default-arg closure would be seen by PySpark
    # as a two-arg (element, index) lambda — build via a factory instead.
    def _hits(markers):
        return F.size(F.filter(tks, lambda t: t.isin(*markers)))

    hits = {lang: _hits(m) for lang, m in LANG_MARKERS.items()}
    gmax = F.greatest(*hits.values())
    pred = F.when(gmax == 0, F.lit("und"))
    for lang in _LANG_ORDER:
        pred = pred.when(hits[lang] == gmax, F.lit(lang))
    return pred


def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (marker-token argmax) vs the labeled lang:
    confusion-matrix counts. Zero-hit docs predict 'und'.

    Per-row array math + one small aggregate; the argmax CASE priority
    order is the deterministic tie-break, identical in the oracle.
    """
    d = _docs(spark, sf_dir)
    pred = _lang_pred_expr(TX.tokenize("text"))
    return (
        d.select("lang", pred.alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "lang_pred")
    )


def _marker_sql(lang: str) -> str:
    return (
        "len([t FOR t IN tks IF t IN ('"
        + "', '".join(LANG_MARKERS[lang])
        + "')])"
    )


LANG_ID_CONFUSION_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
hits AS (
  SELECT lang,
         {", ".join(f"{_marker_sql(lg)} AS h_{lg}" for lg in _LANG_ORDER)},
         greatest({", ".join(f"{_marker_sql(lg)}" for lg in _LANG_ORDER)}) AS gmax
  FROM toks
),
pred AS (
  SELECT lang,
         CASE WHEN gmax = 0 THEN 'und'
              {" ".join(f"WHEN h_{lg} = gmax THEN '{lg}'" for lg in _LANG_ORDER)}
         END AS lang_pred
  FROM hits
)
SELECT lang, lang_pred, COUNT(*) AS n_docs
FROM pred
GROUP BY 1, 2
ORDER BY lang, lang_pred
"""


def doc_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (rolling min-hash over positional 3-gram
    hashes, window 4): per-doc fingerprint-set size and extrema.

    The fingerprint set is the plagiarism/containment index key at scale:
    ~2/(w+1) of shingle hashes survive, so the inverted index is a
    constant fraction of corpus size.
    """
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    # Sliding-window minima via row-wise shingles + a window MIN over a
    # 4-row frame instead of the array-lambda slice loop
    # (operators/text.winnow_fingerprints — kept for array-level callers):
    # each positional shingle hashes ONCE in codegen, WindowExec computes
    # the running minima with one per-doc sort, and the fingerprint stats
    # collapse to countDistinct/min/max aggregates — no array
    # materialization at all. shingle_rows' pos is gapless/0-based, which
    # the order-sensitive window needs. Docs with < window shingles have
    # no valid window; the left join restores them as (0, NULL, NULL),
    # matching the empty-fingerprint-array output of the array form and
    # the oracle.
    pos = TX.shingle_rows(d, SHINGLE_K).select(
        "doc_id", "pos", TX.hash60("g").alias("h")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, WINNOW_WINDOW - 1)
    )
    n_w = Window.partitionBy("doc_id")
    mins = (
        pos.select(
            "doc_id",
            "pos",
            F.min("h").over(w).alias("wmin"),
            F.count(F.lit(1)).over(n_w).alias("n"),
        )
        .filter(F.col("pos") <= F.col("n") - WINNOW_WINDOW)
    )
    stats = mins.groupBy("doc_id").agg(
        F.countDistinct("wmin").cast("int").alias("n_fingerprints"),
        F.min("wmin").alias("fp_min"),
        F.max("wmin").alias("fp_max"),
    )
    return (
        d.select("doc_id")
        .join(stats, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_fingerprints", F.lit(0)).alias("n_fingerprints"),
            "fp_min",
            "fp_max",
        )
        .orderBy("doc_id")
    )


DOC_FINGERPRINT_WINNOW_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
hs AS (
  SELECT doc_id, [{_d_hash60('g')} FOR g IN {_SH_POS_SQL}] AS h
  FROM toks
),
fp AS (
  SELECT doc_id,
         list_sort(list_distinct(
           [list_min(h[i:i + {WINNOW_WINDOW - 1}])
            FOR i IN generate_series(1, len(h) - {WINNOW_WINDOW - 1})]
         )) AS fps
  FROM hs
)
SELECT doc_id,
       len(fps) AS n_fingerprints,
       fps[1] AS fp_min,
       fps[len(fps)] AS fp_max
FROM fp
ORDER BY doc_id
"""


BPE_ISH_RE = r"[a-z0-9]+|[^a-z0-9\s]"


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, both ways a data pipeline needs it: whitespace
    tokens (the analysis tokenizer) and a BPE-ish lexer count
    (alphanumeric runs + individual punctuation — the budget estimate
    for LLM token costs). Pure per-row regexp math in codegen over the
    normalized text; one tiny rollup per (lang, source)."""
    d = _docs(spark, sf_dir)
    norm = TX.normalize_text("text")
    per_doc = d.select(
        "lang",
        "source",
        F.size(F.split(norm, " ")).alias("n_ws"),
        F.regexp_count(norm, F.lit(BPE_ISH_RE)).alias("n_bpe"),
        F.length(norm).alias("n_chars"),
    )
    return (
        per_doc.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_ws").alias("sum_ws_tokens"),
            F.sum("n_bpe").alias("sum_bpe_tokens"),
            F.round(
                F.sum("n_chars").cast("double") / F.sum("n_bpe"), 6
            ).alias("chars_per_bpe_token"),
        )
        .orderBy("lang", "source")
    )


TOKEN_COUNTS_SQL = rf"""
WITH toks AS ({_TOKS_SQL}),
per_doc AS (
  SELECT lang, source,
         len(tks) AS n_ws,
         len(regexp_extract_all(norm, '{BPE_ISH_RE}')) AS n_bpe,
         length(norm) AS n_chars
  FROM toks
)
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_ws) AS BIGINT) AS sum_ws_tokens,
       CAST(SUM(n_bpe) AS BIGINT) AS sum_bpe_tokens,
       ROUND(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_bpe), 6)
         AS chars_per_bpe_token
FROM per_doc
GROUP BY 1, 2
ORDER BY lang, source
"""


# ------------------------------------------------- curation pipeline


CURATION_MIN_TOKENS = 10


def _curation_ranked(d: DataFrame) -> DataFrame:
    """Per-doc curation funnel flags over any (doc_id, lang, source, text)
    frame: n_tokens, lang_pred, content_hash, quality_ok, survives, and
    `kept` (survivor + exact-dedup canonical election). Shared by
    `corpus_curation_pipeline` (rollup surface) and
    `corpus_build_pipeline` (feeds the near-dup stage)."""
    tks = TX.tokenize("text")
    feat = d.select(
        "doc_id",
        "lang",
        "source",
        F.size(tks).alias("n_tokens"),
        _lang_pred_expr(tks).alias("lang_pred"),
        TX.content_hash("text").alias("content_hash"),
    ).select(
        "*",
        (F.col("n_tokens") >= CURATION_MIN_TOKENS).alias("quality_ok"),
    ).select(
        "*",
        (F.col("quality_ok") & (F.col("lang_pred") == F.col("lang"))).alias(
            "survives"
        ),
    )
    return feat.withColumn(
        "kept",
        F.col("survives")
        & (
            F.row_number().over(
                Window.partitionBy("content_hash", "survives").orderBy(
                    "doc_id"
                )
            )
            == 1
        ),
    )


def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-data twin of the flagship hourly pipeline: the full
    curation funnel — token-count quality gate, language-ID agreement
    gate, exact dedup (canonical = min doc_id per content hash among
    survivors) — composed as ONE plan, rolled up per (lang, source) with
    per-stage survivor counts and the kept token budget.

    Plan shape: one codegen'd scan computes every per-doc feature (no
    joins between stages — the funnel is CASE math over one row), then
    one window over content_hash for canonical election, then one small
    rollup. At 100 TB that is: scan, one hash shuffle on content_hash,
    one tiny aggregate — the cheapest shape a multi-stage funnel can
    have; each stage's counts come for free from the same pass."""
    ranked = _curation_ranked(_docs(spark, sf_dir))
    return (
        ranked.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.sum(F.col("quality_ok").cast("long")).alias("n_quality"),
            F.sum(F.col("survives").cast("long")).alias("n_lang_ok"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
            F.sum(
                F.when(F.col("kept"), F.col("n_tokens")).otherwise(0)
            ).alias("tokens_kept"),
        )
        .orderBy("lang", "source")
    )


CORPUS_CURATION_PIPELINE_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
feat AS (
  SELECT doc_id, lang, source,
         len(tks) AS n_tokens,
         CASE WHEN greatest({", ".join(_marker_sql(lg) for lg in _LANG_ORDER)}) = 0
                THEN 'und'
              {" ".join(
                  f"WHEN {_marker_sql(lg)} = greatest("
                  + ", ".join(_marker_sql(l2) for l2 in _LANG_ORDER)
                  + f") THEN '{lg}'"
                  for lg in _LANG_ORDER)}
         END AS lang_pred,
         sha256(norm) AS content_hash
  FROM toks
),
flags AS (
  SELECT *,
         n_tokens >= {CURATION_MIN_TOKENS} AS quality_ok,
         (n_tokens >= {CURATION_MIN_TOKENS} AND lang_pred = lang) AS survives
  FROM feat
),
ranked AS (
  SELECT *,
         survives AND ROW_NUMBER() OVER (
           PARTITION BY content_hash, survives ORDER BY doc_id
         ) = 1 AS kept
  FROM flags
)
SELECT lang, source,
       COUNT(*) AS n_raw,
       CAST(SUM(CASE WHEN quality_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(SUM(CASE WHEN survives THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_ok,
       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
FROM ranked
GROUP BY 1, 2
ORDER BY lang, source
"""


CHUNK_SIZE = 64
CHUNK_STRIDE = 48  # 16-token overlap


def document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: split each doc into {CHUNK_SIZE}-token
    windows every {CHUNK_STRIDE} tokens ({CHUNK_SIZE - CHUNK_STRIDE}-token
    overlap) — the context-window prep step of a training pipeline. One
    row per chunk with its token count and content hash.

    Map-only until the presentation sort: tokenize once, explode the
    start offsets (array math, no join), slice per window — output volume
    is rows x (len/stride), the expansion is the operator's job, and no
    shuffle touches the full text (chunks reduce to hashes in the same
    projection)."""
    d = _docs(spark, sf_dir)
    base = d.select("doc_id", TX.tokenize("text").alias("tks"))
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("tks") - 1, F.lit(0)),
        F.lit(CHUNK_STRIDE),
    )
    return (
        base.select(
            "doc_id", "tks", F.posexplode(starts).alias("chunk_idx", "start")
        )
        .filter(F.col("start") < F.size("tks"))
        .select(
            "doc_id",
            "chunk_idx",
            F.slice("tks", F.col("start") + 1, CHUNK_SIZE).alias("chunk"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.size("chunk").alias("n_tokens"),
            F.md5(F.concat_ws(" ", "chunk")).alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


DOCUMENT_CHUNKS_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
starts AS (
  SELECT doc_id, tks, i AS start, (i // {CHUNK_STRIDE}) AS chunk_idx
  FROM toks,
       LATERAL unnest(generate_series(0, greatest(len(tks) - 1, 0),
                                      {CHUNK_STRIDE})) AS u(i)
  WHERE i < len(tks)
)
SELECT doc_id, chunk_idx,
       len(tks[start + 1 : start + {CHUNK_SIZE}]) AS n_tokens,
       md5(array_to_string(tks[start + 1 : start + {CHUNK_SIZE}], ' '))
         AS chunk_hash
FROM starts
ORDER BY doc_id, chunk_idx
"""


# Per-language sampling rates (percent); unlisted languages default to 20.
SAMPLE_RATES = {"en": 60, "de": 35}
SAMPLE_DEFAULT = 20
SAMPLE_SEED = 7


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep a per-language fraction of
    docs, gated by hash(doc_id) % 100 < rate — the downsampling/upsampling
    mix step of corpus assembly. Hash-gating (vs rand()) makes the sample
    REPRODUCIBLE under retries and partitioning, auditable row-by-row, and
    stable as the corpus grows (a doc's membership never flips when other
    docs arrive). Map-only scan + tiny rollup; rates live in one literal
    CASE so the same plan serves any stratum mix."""
    d = _docs(spark, sf_dir)
    gate = TX.hash60(F.col("doc_id").cast("string"), seed=SAMPLE_SEED) % 100
    rate = F.lit(SAMPLE_DEFAULT)
    for lang, r in SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == lang, r).otherwise(rate)
    sampled = d.select(
        "lang", "source", (gate < rate).cast("long").alias("in_sample")
    )
    return (
        sampled.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("in_sample").alias("n_sampled"),
            F.round(
                F.sum("in_sample").cast("double") / F.count(F.lit(1)), 6
            ).alias("achieved_rate"),
        )
        .orderBy("lang", "source")
    )


def _rate_sql() -> str:
    whens = " ".join(
        f"WHEN lang = '{lang}' THEN {r}" for lang, r in SAMPLE_RATES.items()
    )
    return f"CASE {whens} ELSE {SAMPLE_DEFAULT} END"


STRATIFIED_SAMPLE_SQL = f"""
WITH gated AS (
  SELECT lang, source,
         CASE WHEN ({_d_hash60("doc_id::VARCHAR", seed=SAMPLE_SEED)}) % 100
                   < {_rate_sql()}
              THEN 1 ELSE 0 END AS in_sample
  FROM documents
)
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(in_sample) AS BIGINT) AS n_sampled,
       ROUND(CAST(SUM(in_sample) AS DOUBLE) / COUNT(*), 6) AS achieved_rate
FROM gated
GROUP BY 1, 2
ORDER BY lang, source
"""


# ------------------------------------------------------------- clusters

CLUSTER_MAX_ITERS = 50


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the MinHash-LSH
    pair graph, labeling every clustered doc with the min doc_id of its
    component (the canonical survivor) and the component size. Pair lists
    alone under-remove: A~B and B~C must collapse to ONE surviving doc
    even when A~C was never emitted — that closure is exactly connected
    components.

    Iterative min-label propagation: each round joins current labels onto
    the undirected edge list and keeps the per-node min. Rounds needed =
    graph diameter — near-dup clusters are near-cliques, so 2-4 rounds in
    practice. Each round is one shuffle join + one hash aggregate over
    the EDGE set (only docs with >= 1 near-dup pair enter — orders of
    magnitude smaller than the corpus at 100 TB); `materialize`
    (localCheckpoint locally, reliable checkpoint under the cluster
    profile — session.py) truncates lineage so the plan does not grow
    per round. Convergence:
    labels only ever decrease, so SUM(label) strictly decreases iff any
    label changed — one cheap scalar action per round, no change-count
    join. The oracle computes the same fixpoint with a recursive CTE.
    """
    pairs = _minhash_pair_frame(spark, sf_dir).select("doc_a", "doc_b")
    labels = _cc_min_labels(pairs)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        labels.join(F.broadcast(sizes), "label")
        .select("doc_id", F.col("label").alias("cluster_id"), "n_members")
        .orderBy("doc_id")
    )


def _cc_min_labels(pairs: DataFrame) -> DataFrame:
    """Connected components of an undirected (doc_a, doc_b) pair list via
    min-label propagation; returns (doc_id, label) for every doc with at
    least one pair. See `dedup_clusters` for the scale argument."""
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    rev = pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    # Materialize edges once: the LSH lineage (shingle -> signature ->
    # band join -> verify) must not re-execute every round.
    edges = materialize(fwd.union(rev))
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .transform(materialize)
    )
    prev = labels.agg(F.sum("label")).first()[0]
    for _ in range(CLUSTER_MAX_ITERS):
        prop = edges.join(
            labels.withColumnRenamed("doc_id", "src"), "src"
        ).select(F.col("dst").alias("doc_id"), "label")
        labels = (
            labels.unionByName(prop)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
            .transform(materialize)
        )
        cur = labels.agg(F.sum("label")).first()[0]
        if cur == prev:
            break
        prev = cur
    return labels


DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS ({NEAR_DUP_MINHASH_LSH_SQL}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach AS (
  SELECT DISTINCT src AS doc_id, src AS label FROM edges
  UNION
  SELECT e.dst AS doc_id, r.label
  FROM reach r JOIN edges e ON e.src = r.doc_id
),
members AS (SELECT doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc_id)
SELECT m.doc_id, m.cluster_id, s.n_members
FROM members m
JOIN (SELECT cluster_id, COUNT(*) AS n_members FROM members GROUP BY 1) s
  USING (cluster_id)
ORDER BY m.doc_id
"""


# ----------------------------------------------------------- repetition

# Gopher/C4-style repetition gates, kept as exact rationals so the flag
# decisions are integer arithmetic (bit-identical in both engines):
# flag if top-token frac > 1/5, top-bigram frac > 9/50, or distinct
# ratio < 1/2.


def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality gates per (lang, source): the
    duplicate-text heuristics every corpus-curation pipeline runs
    (most-common token share, most-common bigram share, type/token
    ratio), with flag thresholds evaluated as cross-multiplied integers —
    no float compares in the decision path.

    Shape: explode tokens -> two stacked hash-aggregates (doc×token then
    doc) + the bigram twin over shingle_rows -> per-doc flags -> tiny
    rollup. All shuffles key on doc_id or (doc_id, gram): uniform keys,
    map-side partials, no skew risk at 100 TB.
    """
    d = _docs(spark, sf_dir)
    tok = d.select("doc_id", F.explode(TX.tokenize("text")).alias("t"))
    tok_doc = (
        tok.groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("n").alias("top_token_n"),
        )
    )
    bg_doc = (
        TX.shingle_rows(d, 2)
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(F.sum("n").alias("n_bigrams"), F.max("n").alias("top_bigram_n"))
    )
    flagged = (
        (F.col("top_token_n") * 5 > F.col("n_tokens"))
        | (F.col("top_bigram_n") * 50 > F.col("n_bigrams") * 9)
        | (F.col("n_distinct") * 2 < F.col("n_tokens"))
    )
    per = (
        d.select("doc_id", "lang", "source")
        .join(tok_doc, "doc_id")
        .join(bg_doc, "doc_id", "left")
        .select(
            "lang",
            "source",
            "n_tokens",
            "n_distinct",
            "top_token_n",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("top_bigram_n", F.lit(0)).alias("top_bigram_n"),
        )
        .withColumn("flagged", flagged.cast("long"))
    )
    return (
        per.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("flagged").alias("n_flagged"),
            F.round(
                F.sum("top_token_n").cast("double") / F.sum("n_tokens"), 6
            ).alias("top_token_rate"),
            F.round(
                F.sum("top_bigram_n").cast("double")
                / F.nullif(F.sum("n_bigrams"), F.lit(0)),
                6,
            ).alias("top_bigram_rate"),
            F.round(
                F.sum("n_distinct").cast("double") / F.sum("n_tokens"), 6
            ).alias("distinct_rate"),
        )
        .orderBy("lang", "source")
    )


_BG_POS_SQL = (
    "[array_to_string(tks[i:i+1], ' ') "
    "FOR i IN generate_series(1, len(tks) - 1)]"
)

TEXT_REPETITION_STATS_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
tokc AS (
  SELECT doc_id, t, COUNT(*) AS n
  FROM (SELECT doc_id, unnest(tks) AS t FROM toks)
  GROUP BY 1, 2
),
tokd AS (
  SELECT doc_id, SUM(n) AS n_tokens, COUNT(*) AS n_distinct,
         MAX(n) AS top_token_n
  FROM tokc GROUP BY 1
),
bg AS (
  SELECT doc_id, unnest({_BG_POS_SQL}) AS g FROM toks
),
bgc AS (SELECT doc_id, g, COUNT(*) AS n FROM bg GROUP BY 1, 2),
bgd AS (
  SELECT doc_id, SUM(n) AS n_bigrams, MAX(n) AS top_bigram_n
  FROM bgc GROUP BY 1
),
per AS (
  SELECT d.lang, d.source, t.n_tokens, t.n_distinct, t.top_token_n,
         COALESCE(b.n_bigrams, 0) AS n_bigrams,
         COALESCE(b.top_bigram_n, 0) AS top_bigram_n,
         CASE WHEN t.top_token_n * 5 > t.n_tokens
                OR COALESCE(b.top_bigram_n, 0) * 50
                   > COALESCE(b.n_bigrams, 0) * 9
                OR t.n_distinct * 2 < t.n_tokens
              THEN 1 ELSE 0 END AS flagged
  FROM tokd t
  JOIN (SELECT doc_id, lang, source FROM toks) d USING (doc_id)
  LEFT JOIN bgd b ON b.doc_id = t.doc_id
)
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(flagged) AS BIGINT) AS n_flagged,
       ROUND(CAST(SUM(top_token_n) AS DOUBLE) / SUM(n_tokens), 6)
         AS top_token_rate,
       ROUND(CAST(SUM(top_bigram_n) AS DOUBLE) / NULLIF(SUM(n_bigrams), 0), 6)
         AS top_bigram_rate,
       ROUND(CAST(SUM(n_distinct) AS DOUBLE) / SUM(n_tokens), 6)
         AS distinct_rate
FROM per
GROUP BY 1, 2
ORDER BY lang, source
"""


# ---------------------------------------------------------------- tfidf

TFIDF_TOP_K = 5


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k characteristic terms per language by TF-IDF (stopwords
    excluded; idf = ln(N/df) over the whole corpus) — the
    topic/keyword-profiling step of corpus analysis.

    Shape: explode tokens -> tf aggregate on (lang, term) + df aggregate
    on term (a distinct + count, i.e. two stacked partial aggs) ->
    shuffle join on term -> per-lang top-k window over ~|vocab per lang|
    rows. The corpus size N rides in as a broadcast 1-row aggregate, not
    a driver-side collect. At 100 TB the vocabulary, not the corpus,
    bounds the join and window inputs.
    """
    d = _docs(spark, sf_dir)
    tok = d.select(
        "lang", "doc_id", F.explode(TX.tokenize("text")).alias("t")
    ).filter(~F.col("t").isin(*TX.STOPWORDS))
    tf = tok.groupBy("lang", "t").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        tok.select("doc_id", "t")
        .distinct()
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("df_docs"))
    )
    ndocs = d.agg(F.count(F.lit(1)).alias("n_total"))
    scored = (
        tf.join(dfreq, "t")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "score", F.col("tf") * F.log(F.col("n_total") / F.col("df_docs"))
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("t"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select(
            "lang",
            "rank",
            F.col("t").alias("term"),
            "tf",
            "df_docs",
            F.round("score", 6).alias("tfidf"),
        )
        .orderBy("lang", "rank")
    )


TFIDF_TOP_TERMS_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
tok AS (
  SELECT lang, doc_id, unnest(tks) AS t FROM toks
),
tokf AS (SELECT * FROM tok WHERE t NOT IN {_STOP_SQL}),
tf AS (SELECT lang, t, COUNT(*) AS tf FROM tokf GROUP BY 1, 2),
dfreq AS (SELECT t, COUNT(DISTINCT doc_id) AS df_docs FROM tokf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_total FROM documents),
scored AS (
  SELECT tf.lang, tf.t, tf.tf, dfreq.df_docs,
         tf.tf * ln(CAST(n_total AS DOUBLE) / df_docs) AS score
  FROM tf JOIN dfreq USING (t) CROSS JOIN n
),
ranked AS (
  SELECT lang, t, tf, df_docs, score,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score DESC, t)
           AS rank
  FROM scored
)
SELECT lang, rank, t AS term, tf, df_docs, ROUND(score, 6) AS tfidf
FROM ranked WHERE rank <= {TFIDF_TOP_K}
ORDER BY lang, rank
"""


# -------------------------------------------------------------- packing

PACK_CAPACITY = 256  # tokens per context window


def context_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk context-window packing accounting: stream each
    language's docs in doc_id order, concatenate token counts, and cut
    windows of PACK_CAPACITY tokens — bin(doc) = floor(tokens_before /
    capacity), the exact bin layout GPT-style pretraining gets from
    concatenating the corpus and chunking fixed-length sequences.
    Output: per-lang packing efficiency (bins used, mean fill,
    utilization vs the no-packing one-doc-one-window baseline).

    Shape: token counts are map-side array math; the running sum is ONE
    ordered window per lang. Languages partition the corpus, so at
    100 TB the stream order inside a lang must be made shuffle-stable:
    doc_id order gives that for free (and is why the window orders by
    doc_id, not arrival). A per-lang window serializes per-lang — the
    scale form runs the same window keyed by (lang, shard) where shard =
    hash(doc_id) div stream-chunk, packing each shard independently
    (identical utilization, embarrassingly parallel); kept single-key
    here for oracle parity.
    """
    d = _docs(spark, sf_dir)
    toks = d.select(
        "lang", "doc_id", F.size(TX.tokenize("text")).alias("n_tok")
    )
    w = Window.partitionBy("lang").orderBy("doc_id")
    binned = toks.select(
        "lang",
        "n_tok",
        (
            (F.sum("n_tok").over(w) - F.col("n_tok"))
            / F.lit(PACK_CAPACITY)
        )
        .cast("long")
        .alias("bin"),
    )
    return (
        binned.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("sum_tokens"),
            F.countDistinct("bin").alias("n_bins"),
            F.round(
                F.sum("n_tok").cast("double") / F.countDistinct("bin"), 6
            ).alias("avg_fill"),
            F.round(
                F.sum("n_tok").cast("double")
                / (F.countDistinct("bin") * PACK_CAPACITY),
                6,
            ).alias("utilization"),
        )
        .orderBy("lang")
    )


CONTEXT_PACK_BINS_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
counted AS (
  SELECT lang, doc_id, len(tks) AS n_tok FROM toks
),
binned AS (
  SELECT lang, n_tok,
         CAST(FLOOR(CAST(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id)
                         - n_tok AS DOUBLE) / {PACK_CAPACITY}) AS BIGINT)
           AS bin
  FROM counted
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
       COUNT(DISTINCT bin) AS n_bins,
       ROUND(CAST(SUM(n_tok) AS DOUBLE) / COUNT(DISTINCT bin), 6)
         AS avg_fill,
       ROUND(CAST(SUM(n_tok) AS DOUBLE)
             / (COUNT(DISTINCT bin) * {PACK_CAPACITY}), 6) AS utilization
FROM binned
GROUP BY 1
ORDER BY lang
"""


# ------------------------------------------------------------ full build


def corpus_build_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END corpus build: curation gates (token-count quality +
    lang-ID agreement) -> exact-dedup canonical election -> MinHash-LSH
    near-dup CLUSTER collapse (connected components, keep the min doc per
    cluster) -> per-lang funnel counts and the final kept token budget.
    One composed plan from the same operators the standalone queries
    verify individually.

    Funnel ordering IS the scale story: the cheap map-side gates and the
    one content-hash shuffle run over the full corpus, and only the
    SURVIVORS enter the expensive stage (shingling + LSH + the iterative
    component labeling) — at 100 TB the near-dup stage's input is the
    already-curated fraction, and its loop state is the pair graph, not
    the corpus (see `dedup_clusters`).
    """
    from pyspark import StorageLevel

    d = _docs(spark, sf_dir)
    # The curation flags feed BOTH the near-dup stage (via the semi-join)
    # and the final funnel rollup; persist the narrow per-doc flag frame
    # (~tens of bytes/doc, no text) so the lang-ID + hash scan runs once.
    # MEMORY_AND_DISK: at 100 TB the flag frame spills instead of OOMing.
    ranked = _curation_ranked(d).persist(StorageLevel.MEMORY_AND_DISK)
    kept_docs = d.join(
        ranked.filter("kept").select("doc_id"), "doc_id", "left_semi"
    )
    pairs = _minhash_pairs_for(kept_docs).select("doc_a", "doc_b")
    labels = _cc_min_labels(pairs)
    removed = (
        labels.filter(F.col("doc_id") != F.col("label"))
        .select("doc_id")
        .withColumn("_rm", F.lit(True))
    )
    final = ranked.join(F.broadcast(removed), "doc_id", "left")
    final_kept = F.col("kept") & F.col("_rm").isNull()
    out = (
        final.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.sum(F.col("kept").cast("long")).alias("n_curated"),
            F.sum(final_kept.cast("long")).alias("n_final"),
            F.sum(F.when(final_kept, F.col("n_tokens")).otherwise(0)).alias(
                "tokens_final"
            ),
        )
        .orderBy("lang")
    )
    # Materialize the tiny per-lang rollup (eager, via materialize) so the
    # persisted flag frame can be released HERE instead of leaking cached
    # partitions into the rest of a shared session (the 97-query
    # verify/bench runners reuse one SparkSession). Callers re-running
    # actions on the result hit the checkpoint, not the funnel.
    out = materialize(out)
    ranked.unpersist()
    return out


def _pairs_cte_chain(toks_rel: str) -> str:
    """The shingle→signature→band→verify CTE chain over any relation with
    (doc_id, tks) — shared bodies with NEAR_DUP_MINHASH_LSH_SQL."""
    return f"""sh AS (
  SELECT doc_id, list_distinct({_SH_POS_SQL}) AS sh FROM {toks_rel}
),
mhd AS (SELECT doc_id, list_distinct([{_d_hash60('x')} FOR x IN sh]) AS mh
        FROM sh),
mhb AS (SELECT doc_id, {_MH_BASE_SQL} AS mh FROM sh),
sig AS (SELECT doc_id, {_MINHASH_SQL} AS sig FROM mhb),
bands AS (SELECT doc_id, unnest({_BAND_KEYS_SQL}) AS bk FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT c.doc_a, c.doc_b,
         ROUND(CAST(len(list_intersect(sa.mh, sb.mh)) AS DOUBLE)
               / CAST(len(sa.mh) + len(sb.mh)
                      - len(list_intersect(sa.mh, sb.mh)) AS DOUBLE),
               6) AS jaccard
  FROM cand c
  JOIN mhd sa ON sa.doc_id = c.doc_a
  JOIN mhd sb ON sb.doc_id = c.doc_b
)"""


_CB_GMAX = "greatest(" + ", ".join(_marker_sql(lg) for lg in _LANG_ORDER) + ")"
_CB_LANG_PRED_CASE = (
    f"CASE WHEN {_CB_GMAX} = 0 THEN 'und' "
    + " ".join(
        f"WHEN {_marker_sql(lg)} = {_CB_GMAX} THEN '{lg}'"
        for lg in _LANG_ORDER
    )
    + " END"
)

CORPUS_BUILD_PIPELINE_SQL = f"""
WITH RECURSIVE toks AS ({_TOKS_SQL}),
feat AS (
  SELECT doc_id, lang, source, tks,
         len(tks) AS n_tokens,
         {_CB_LANG_PRED_CASE} AS lang_pred,
         sha256(norm) AS content_hash
  FROM toks
),
flags AS (
  SELECT *,
         (n_tokens >= {CURATION_MIN_TOKENS} AND lang_pred = lang) AS survives
  FROM feat
),
ranked AS (
  SELECT *,
         survives AND ROW_NUMBER() OVER (
           PARTITION BY content_hash, survives ORDER BY doc_id
         ) = 1 AS kept
  FROM flags
),
kept_toks AS (SELECT doc_id, tks FROM ranked WHERE kept),
{_pairs_cte_chain("kept_toks")},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs WHERE jaccard >= {JACCARD_TAU}
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs WHERE jaccard >= {JACCARD_TAU}
),
reach AS (
  SELECT DISTINCT src AS doc_id, src AS label FROM edges
  UNION
  SELECT e.dst AS doc_id, r.label
  FROM reach r JOIN edges e ON e.src = r.doc_id
),
members AS (SELECT doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc_id),
removed AS (SELECT doc_id FROM members WHERE doc_id != cluster_id)
SELECT r.lang,
       COUNT(*) AS n_raw,
       CAST(SUM(CASE WHEN r.kept THEN 1 ELSE 0 END) AS BIGINT) AS n_curated,
       CAST(SUM(CASE WHEN r.kept AND rm.doc_id IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_final,
       CAST(SUM(CASE WHEN r.kept AND rm.doc_id IS NULL THEN r.n_tokens
                     ELSE 0 END) AS BIGINT) AS tokens_final
FROM ranked r
LEFT JOIN removed rm ON rm.doc_id = r.doc_id
GROUP BY 1
ORDER BY r.lang
"""


# ------------------------------------------------------------ perplexity

XENT_FLAG_THRESHOLD = -6  # flag docs whose mean token logprob < -6 nats


def unigram_xent_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality proxy: score each doc by its unigram
    cross-entropy against the corpus's own token distribution (mean
    -ln p(token)); rare-token-heavy docs score high and get flagged.
    Real pipelines swap in a trained LM — the dataflow (model join +
    per-doc reduction + stratum rollup) is identical.

    Exactness shape: per-token logprobs are doubles rounded to 6dp and
    cast to DECIMAL(18,6) BEFORE the per-doc sum — the only
    order-dependent reduction becomes exact decimal addition, and the
    low-probability flag compares decimals to an integer-scaled
    threshold (sum_lnp < -6·n_tokens), so no float enters any decision
    or accumulated value. One token-frequency aggregate, one join on
    token (vocabulary-bounded), one doc rollup, one stratum rollup.
    """
    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id", "lang", "source", F.explode(TX.tokenize("text")).alias("t")
    )
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("n_total"))
    lnp = freq.crossJoin(F.broadcast(total)).select(
        "t",
        F.round(F.log(F.col("cnt") / F.col("n_total")), 6)
        .cast("decimal(18,6)")
        .alias("lnp"),
    )
    per_doc = (
        tok.join(lnp, "t")
        .groupBy("doc_id", "lang", "source")
        .agg(
            F.sum("lnp").alias("sum_lnp"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .withColumn(
            "low_prob",
            (
                F.col("sum_lnp")
                < F.lit(XENT_FLAG_THRESHOLD) * F.col("n_tokens")
            ).cast("long"),
        )
    )
    return (
        per_doc.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("low_prob").alias("n_low_prob"),
            F.round(
                F.sum("sum_lnp").cast("double") / F.sum("n_tokens"), 6
            ).alias("mean_lnp_per_token"),
        )
        .orderBy("lang", "source")
    )


UNIGRAM_XENT_QUALITY_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
tok AS (
  SELECT doc_id, lang, source, unnest(tks) AS t FROM toks
),
freq AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY 1),
total AS (SELECT SUM(cnt) AS n_total FROM freq),
lnp AS (
  SELECT t,
         CAST(ROUND(ln(CAST(cnt AS DOUBLE) / n_total), 6) AS DECIMAL(18,6))
           AS lnp
  FROM freq CROSS JOIN total
),
per_doc AS (
  SELECT doc_id, lang, source,
         SUM(lnp) AS sum_lnp,
         COUNT(*) AS n_tokens,
         CASE WHEN SUM(lnp) < {XENT_FLAG_THRESHOLD} * COUNT(*)
              THEN 1 ELSE 0 END AS low_prob
  FROM tok JOIN lnp USING (t)
  GROUP BY 1, 2, 3
)
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(low_prob) AS BIGINT) AS n_low_prob,
       ROUND(CAST(SUM(sum_lnp) AS DOUBLE) / SUM(n_tokens), 6)
         AS mean_lnp_per_token
FROM per_doc
GROUP BY 1, 2
ORDER BY lang, source
"""


# -------------------------------------------------------- contamination

# Benchmark probe n-grams (stand-ins for eval-set shingles; a real run
# loads these from the benchmark corpus — the plan is unchanged).
CONTAMINATION_PROBES = [
    "stream table hash",
    "row column sort",
    "window fast query",
    "held out probe zzz",  # deliberate miss: zero-hit path stays covered
]


def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination probe: count which documents contain any
    benchmark shingle (word 3-gram containment, the n-gram-overlap
    decontamination rule of LLM training pipelines). Zero-hit probes are
    reported with n_docs=0, not dropped — the report must prove absence,
    not just presence.

    Shape: the probe set is tiny and BROADCAST; the corpus side is the
    same row-wise shingle lineage every dedup query uses, so the join is
    a broadcast hash join inside the shingle scan — no shuffle of corpus
    data, cost one corpus pass regardless of probe count. At real scale
    the probe set is the benchmark suite's shingle table (still tiny
    next to 100 TB of corpus).
    """
    d = _docs(spark, sf_dir)
    probes = spark.sql(
        "SELECT probe FROM (VALUES "
        + ", ".join(f"('{p}')" for p in CONTAMINATION_PROBES)
        + ") AS t(probe)"
    )
    sh = TX.shingle_rows(d, SHINGLE_K).select("doc_id", "g").distinct()
    hits = (
        sh.join(F.broadcast(probes), sh.g == probes.probe)
        .groupBy("probe")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc_id"),
        )
    )
    return (
        probes.join(hits, "probe", "left")
        .select(
            "probe",
            F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
            F.coalesce("first_doc_id", F.lit(-1)).alias("first_doc_id"),
        )
        .orderBy("probe")
    )


_PROBES_VALUES_SQL = ", ".join(f"('{p}')" for p in CONTAMINATION_PROBES)

BENCHMARK_CONTAMINATION_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
sh AS (
  SELECT DISTINCT doc_id, unnest({_SH_POS_SQL}) AS g FROM toks
),
probes AS (SELECT probe FROM (VALUES {_PROBES_VALUES_SQL}) AS t(probe)),
hits AS (
  SELECT probe, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc_id
  FROM sh JOIN probes ON sh.g = probes.probe
  GROUP BY 1
)
SELECT p.probe AS probe,
       COALESCE(h.n_docs, 0) AS n_docs,
       COALESCE(h.first_doc_id, -1) AS first_doc_id
FROM probes p
LEFT JOIN hits h ON h.probe = p.probe
ORDER BY p.probe
"""


# ---------------------------------------------------------------- splits

SPLIT_SEED = 11
# Cumulative percent bounds: [0,90) train, [90,95) val, [95,100) test.
SPLIT_BOUNDS = [("train", 0, 90), ("val", 90, 95), ("test", 95, 100)]


def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 3-way corpus split: split(doc) = bucket of
    hash(doc_id) % 100 against fixed cumulative bounds — the multi-way
    sibling of `stratified_sample`. Hash assignment (never rand(), never
    row position) means: a doc's split NEVER changes as the corpus grows
    or repartitions (no train/test leakage across dataset versions),
    retries are idempotent, and membership is auditable row-by-row.
    Rolled up per (split, lang) with token budgets; split sizes converge
    to the bounds by the hash's uniformity, never exactly — the report
    shows achieved, not nominal, fractions.
    """
    d = _docs(spark, sf_dir)
    bucket = TX.hash60(F.col("doc_id").cast("string"), seed=SPLIT_SEED) % 100
    split = F.lit(None).cast("string")
    for name, lo, hi in SPLIT_BOUNDS:
        split = F.when((bucket >= lo) & (bucket < hi), name).otherwise(split)
    return (
        d.select(
            split.alias("split"),
            "lang",
            F.size(TX.tokenize("text")).alias("n_tok"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("sum_tokens"),
        )
        .orderBy("split", "lang")
    )


_SPLIT_CASE_SQL = (
    "CASE "
    + " ".join(
        f"WHEN b >= {lo} AND b < {hi} THEN '{name}'"
        for name, lo, hi in SPLIT_BOUNDS
    )
    + " END"
)

TRAIN_VAL_TEST_SPLIT_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
bucketed AS (
  SELECT lang, len(tks) AS n_tok,
         ({_d_hash60("doc_id::VARCHAR", seed=SPLIT_SEED)}) % 100 AS b
  FROM toks
)
SELECT {_SPLIT_CASE_SQL} AS split, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
FROM bucketed
GROUP BY 1, 2
ORDER BY split, lang
"""


# --------------------------------------------------- mixture rebalancing

MIX_GATE_MOD = 1_000_000
MIX_SEED = 11


def data_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-mixture rebalancing: downsample every language to the token
    budget of the smallest language (equal-mixture target), gated by a
    deterministic per-doc hash so membership is reproducible under
    retries and stable as the corpus grows.

    The per-lang acceptance threshold is computed in INTEGER arithmetic
    (`target_tokens * MOD div lang_tokens`) so the gate decision has no
    float in it — the oracle reproduces it exactly. Two corpus passes
    (one for the per-lang token totals, one to apply the gate); the
    totals table is |langs| rows and broadcast back. At 100 TB the
    second pass is the unavoidable one — the totals pass can ride an
    existing stats table instead of a rescan.
    """
    d = _docs(spark, sf_dir)
    per_doc = d.select(
        "doc_id",
        "lang",
        F.size(TX.tokenize("text")).cast("long").alias("n_tok"),
    )
    totals = per_doc.groupBy("lang").agg(
        F.sum("n_tok").alias("lang_tokens"),
    )
    target = totals.agg(F.min("lang_tokens").alias("target_tokens"))
    rates = totals.crossJoin(F.broadcast(target)).select(
        "lang",
        "lang_tokens",
        "target_tokens",
        F.expr(f"target_tokens * {MIX_GATE_MOD} div lang_tokens").alias(
            "keep_threshold"
        ),
    )
    gate = TX.hash60(F.col("doc_id").cast("string"), seed=MIX_SEED) % MIX_GATE_MOD
    gated = per_doc.join(F.broadcast(rates), "lang").select(
        "lang",
        "lang_tokens",
        "keep_threshold",
        "n_tok",
        (gate < F.col("keep_threshold")).cast("long").alias("kept"),
    )
    return (
        gated.groupBy("lang", "lang_tokens", "keep_threshold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").alias("n_kept"),
            F.sum(F.col("kept") * F.col("n_tok")).alias("kept_tokens"),
        )
        .orderBy("lang")
    )


DATA_MIXTURE_REBALANCE_SQL = f"""
WITH per_doc AS (
  SELECT doc_id, lang,
         CAST(len(string_split({_NORM_SQL}, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
tot AS (SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS lang_tokens
        FROM per_doc GROUP BY 1),
tgt AS (SELECT MIN(lang_tokens) AS target_tokens FROM tot),
rates AS (
  SELECT lang, lang_tokens,
         (target_tokens * {MIX_GATE_MOD}) // lang_tokens AS keep_threshold
  FROM tot, tgt
),
gated AS (
  SELECT p.lang, r.lang_tokens, r.keep_threshold, p.n_tok,
         CASE WHEN ({_d_hash60("p.doc_id::VARCHAR", seed=MIX_SEED)})
                   % {MIX_GATE_MOD} < r.keep_threshold
              THEN 1 ELSE 0 END AS kept
  FROM per_doc p JOIN rates r USING (lang)
)
SELECT lang, lang_tokens, keep_threshold,
       COUNT(*) AS n_docs,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       CAST(SUM(kept * n_tok) AS BIGINT) AS kept_tokens
FROM gated
GROUP BY 1, 2, 3
ORDER BY lang
"""


# --------------------------------------------- quality percentile filter

QUALITY_KEEP_QUARTER = 4  # keep the top 1/4 per language


def _quality_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared lexical-diversity scoring pass: one row per document with
    (doc_id, lang, n_tok, score) where score is the unique-token ratio
    ROUND(6). Consumed by `quality_percentile_filter` (exact-spec
    per-lang ranking) and `quality_percentile_filter_threshold` (the
    scale-safe histogram-cut twin)."""
    d = _docs(spark, sf_dir)
    tks = TX.tokenize("text")
    return d.select(
        "doc_id",
        "lang",
        F.size(tks).cast("long").alias("n_tok"),
        F.round(
            F.size(F.array_distinct(tks)).cast("double")
            / F.size(tks).cast("double"),
            6,
        ).alias("score"),
    )


def quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-based curation: keep each language's top quartile by
    lexical-diversity score (unique-token ratio, doc_id tie-break so the
    cut is total-ordered and engine-independent).

    The ranking window here is the EXACT-SPEC form and runs per lang —
    at 100 TB a single per-lang sort serializes a hot language;
    `quality_percentile_filter_threshold` is the adjudicated scale-safe
    twin (per-lang score-histogram cut + boundary-score doc_id
    tie-scan, identical output) — the `share_of_total` /
    `share_of_total_broadcast` twin convention.
    """
    scored = _quality_scored(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(F.col("score").desc(), "doc_id")
    ranked = scored.select(
        "lang",
        "n_tok",
        "score",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n_lang"),
    )
    kept = ranked.filter(
        F.col("rn") <= F.expr(f"(n_lang + {QUALITY_KEEP_QUARTER - 1}) div {QUALITY_KEEP_QUARTER}")
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.max("n_lang").alias("n_docs"),
            F.count(F.lit(1)).alias("n_kept"),
            F.min("score").alias("cutoff_score"),
            F.sum("n_tok").alias("kept_tokens"),
        )
        .orderBy("lang")
    )


QUALITY_PERCENTILE_FILTER_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
scored AS (
  SELECT doc_id, lang,
         CAST(len(tks) AS BIGINT) AS n_tok,
         ROUND(CAST(len(list_distinct(tks)) AS DOUBLE) / len(tks), 6)
           AS score
  FROM toks
),
ranked AS (
  SELECT lang, n_tok, score,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY score DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n_lang
  FROM scored
)
SELECT lang,
       MAX(n_lang) AS n_docs,
       COUNT(*) AS n_kept,
       MIN(score) AS cutoff_score,
       CAST(SUM(n_tok) AS BIGINT) AS kept_tokens
FROM ranked
WHERE rn <= (n_lang + {QUALITY_KEEP_QUARTER - 1}) // {QUALITY_KEEP_QUARTER}
GROUP BY 1
ORDER BY lang
"""


def quality_percentile_filter_threshold(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`quality_percentile_filter`'s 100 TB form: each language's
    top-quartile cut comes from a per-lang SCORE HISTOGRAM instead of a
    full per-lang sort that serializes a hot language. Identical output
    and oracle — the `share_of_total` / `share_of_total_broadcast` twin
    convention (same pattern as `dsir_importance_weights_threshold`).

    Selection plan: (1) roll the corpus up into a per-(lang, score)
    histogram — the score is ALREADY 6-dp (ROUND(6) unique-token
    ratio), so the histogram key space is bounded by the score grid,
    not the corpus, and the rollup map-side combines; (2) per-lang
    cumulative counts over the BOUNDED histogram find the boundary
    score where the running count first reaches
    n_keep = ceil(n_lang/{QUALITY_KEEP_QUARTER}); (3) docs strictly
    above the boundary are kept via a broadcast filter; (4) remaining
    slots come from a doc_id tie-scan of the boundary-score group ALONE
    (the original's tie-break is doc_id within equal score, and score
    IS the histogram key, so the selection set is exactly the
    original's). The scored frame is `materialize()`d — the histogram
    and both keep branches would each re-run the tokenize pass
    otherwise.
    """
    scored = materialize(_quality_scored(spark, sf_dir))
    wlang = Window.partitionBy("lang")
    hist = (
        scored.groupBy("lang", "score")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("n_lang", F.sum("n").over(wlang))
        .withColumn(
            "cum",
            F.sum("n").over(wlang.orderBy(F.col("score").desc())),
        )
        .withColumn(
            "n_keep",
            F.expr(
                f"(n_lang + {QUALITY_KEEP_QUARTER - 1}) "
                f"div {QUALITY_KEEP_QUARTER}"
            ),
        )
    )
    cutinfo = (
        hist.filter(F.col("cum") >= F.col("n_keep"))
        .withColumn(
            "rk",
            F.row_number().over(wlang.orderBy(F.col("score").desc())),
        )
        .filter(F.col("rk") == 1)
        .select(
            "lang",
            F.col("score").alias("s_cut"),
            (F.col("n_keep") - (F.col("cum") - F.col("n"))).alias(
                "r_slots"
            ),
            "n_lang",
        )
    )
    joined = scored.join(F.broadcast(cutinfo), "lang")
    upper = joined.filter(F.col("score") > F.col("s_cut")).select(
        "lang", "n_tok", "score", "n_lang"
    )
    boundary = (
        joined.filter(F.col("score") == F.col("s_cut"))
        .withColumn("rn", F.row_number().over(wlang.orderBy("doc_id")))
        .filter(F.col("rn") <= F.col("r_slots"))
        .select("lang", "n_tok", "score", "n_lang")
    )
    return (
        upper.unionByName(boundary)
        .groupBy("lang")
        .agg(
            F.max("n_lang").alias("n_docs"),
            F.count(F.lit(1)).alias("n_kept"),
            F.min("score").alias("cutoff_score"),
            F.sum("n_tok").alias("kept_tokens"),
        )
        .orderBy("lang")
    )


# Intentionally the exact-spec per-lang-rank SQL: a green differential
# verdict on the threshold twin PROVES the histogram-cut keep set
# equals the (score desc, doc_id) per-lang ranking's.
QUALITY_PERCENTILE_FILTER_THRESHOLD_SQL = QUALITY_PERCENTILE_FILTER_SQL


# ------------------------------------------------------ incremental dedup

INCR_NEW_MOD = 10
INCR_NEW_MIN = 8  # doc_id % 10 in {8,9} => the "new batch" (~20%)


def dedup_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the continuous-crawl shape: a NEW batch of
    documents is deduplicated against the EXISTING corpus (content-hash
    anti-join) and within itself (first-by-doc_id wins), emitting the
    ingest/duplicate funnel per language.

    The batch split is deterministic (doc_id % {INCR_NEW_MOD} >=
    {INCR_NEW_MIN}). At 100 TB the corpus side of the anti-join is the
    big one: it shuffles only the 64-char digest column (not text), and
    a real deployment fronts it with a digest bloom filter / index table
    so the common no-hit case never touches the corpus shuffle.
    """
    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", TX.content_hash("text").alias("h")
    )
    is_new = F.col("doc_id") % INCR_NEW_MOD >= INCR_NEW_MIN
    corpus_hashes = d.filter(~is_new).select("h").distinct()
    new_docs = d.filter(is_new)
    w = Window.partitionBy("h").orderBy("doc_id")
    flagged = (
        new_docs.join(
            corpus_hashes.select(F.col("h"), F.lit(True).alias("_in_corpus")),
            "h",
            "left",
        )
        .withColumn("rn", F.row_number().over(w))
        .select(
            "lang",
            F.col("_in_corpus").isNotNull().alias("dup_corpus"),
            (F.col("_in_corpus").isNull() & (F.col("rn") > 1)).alias(
                "dup_in_batch"
            ),
        )
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.sum(F.col("dup_corpus").cast("long")).alias("n_dup_vs_corpus"),
            F.sum(F.col("dup_in_batch").cast("long")).alias("n_dup_in_batch"),
            F.sum(
                (~F.col("dup_corpus") & ~F.col("dup_in_batch")).cast("long")
            ).alias("n_ingested"),
        )
        .orderBy("lang")
    )


DEDUP_INCREMENTAL_NEW_DOCS_SQL = f"""
WITH hashed AS (
  SELECT doc_id, lang, sha256({_NORM_SQL}) AS h FROM documents
),
corpus AS (
  SELECT DISTINCT h FROM hashed WHERE doc_id % {INCR_NEW_MOD} < {INCR_NEW_MIN}
),
newdocs AS (
  SELECT * FROM hashed WHERE doc_id % {INCR_NEW_MOD} >= {INCR_NEW_MIN}
),
flagged AS (
  SELECT n.lang,
         (c.h IS NOT NULL) AS dup_corpus,
         (c.h IS NULL AND
          ROW_NUMBER() OVER (PARTITION BY n.h ORDER BY n.doc_id) > 1)
           AS dup_in_batch
  FROM newdocs n LEFT JOIN corpus c ON n.h = c.h
)
SELECT lang,
       COUNT(*) AS n_new,
       CAST(SUM(CASE WHEN dup_corpus THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_vs_corpus,
       CAST(SUM(CASE WHEN dup_in_batch THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_in_batch,
       CAST(SUM(CASE WHEN NOT dup_corpus AND NOT dup_in_batch THEN 1 ELSE 0 END)
            AS BIGINT) AS n_ingested
FROM flagged
GROUP BY 1
ORDER BY lang
"""


# ------------------------------------------------ source vocab overlap

def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-slice set similarity: pairwise vocabulary Jaccard between
    sources — the dataset-vs-dataset overlap probe you run before mixing
    corpora (doc-grain Jaccard is `ngram_jaccard_pairs`; this is the
    same question at dataset grain).

    Scale shape: distinct (source, token) is one hash shuffle; then
    instead of a token self-join (quadratic in the per-token source
    list AND skew-bound on stopwords), aggregate each token's sorted
    source-set once and emit its pairs ARRAY-LOCALLY (`transform` x
    `slice` — C(s,2) structs per token, s = sources containing the
    token, bounded by |sources|). The pair rollup is a second small-key
    shuffle.

    Universal-stopword cap (the 100 TB skew guard, implemented): a
    token present in EVERY source contributes exactly +1 to every
    pair's intersection, so such tokens are counted once (scalar U)
    and EXCLUDED from the collect_set/pair-gen path — the hottest
    arrays (corpus-wide stopwords) are never built. Pair counts are
    then re-based on the dense source-pair skeleton (tiny: C(|sources|,
    2) rows) as non_universal_shared + U, which is identical to the
    uncapped semantics — the oracle is the uncapped quadratic join and
    stays green. The per-token source count that gates the cap is a
    cheap count aggregate (map-side partial) BEFORE any array exists."""
    d = _docs(spark, sf_dir)
    # Distinct (source, token) — orders of magnitude smaller than the
    # corpus; materialized so the three consumers (sizes, per-token
    # counts, pair path) scan it once instead of re-tokenizing.
    vocab = (
        d.select("source", F.explode(TX.tokenize("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
        .transform(materialize)
    )
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("vocab"))
    nsrc = sizes.agg(F.count(F.lit(1)).alias("n_sources"))
    tokc = (
        vocab.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("s"))
        .crossJoin(F.broadcast(nsrc))
    )
    # Scalar U: tokens shared by ALL sources (each adds +1 to every pair).
    univ = tokc.filter(F.col("s") == F.col("n_sources")).agg(
        F.count(F.lit(1)).alias("n_universal")
    )
    pairs = (
        vocab.join(
            tokc.filter(F.col("s") < F.col("n_sources")).select("tok"), "tok"
        )
        .groupBy("tok")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (x, i) -> "
                    "transform(slice(ss, i + 2, size(ss)), "
                    "y -> struct(x AS source_a, y AS source_b))))"
                )
            ).alias("p")
        )
        .select("p.source_a", "p.source_b")
    )
    inter = pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_shared_nu")
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("vocab").alias("vocab_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("vocab").alias("vocab_b")
    )
    # Dense pair skeleton (C(|sources|, 2) rows) so pairs whose overlap
    # is ONLY universal tokens still appear; n_shared = non-universal
    # shared + U, and pairs sharing nothing are dropped exactly as the
    # uncapped form (and the oracle) drop them.
    return (
        sa.join(F.broadcast(sb), F.col("source_a") < F.col("source_b"))
        .join(F.broadcast(inter), ["source_a", "source_b"], "left")
        .crossJoin(F.broadcast(univ))
        .withColumn(
            "n_shared",
            F.coalesce(F.col("n_shared_nu"), F.lit(0)) + F.col("n_universal"),
        )
        .filter(F.col("n_shared") > 0)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("n_shared")),
                6,
            ),
        )
        .select(
            "source_a", "source_b", "vocab_a", "vocab_b", "n_shared", "jaccard"
        )
        .orderBy("source_a", "source_b")
    )


SOURCE_VOCAB_OVERLAP_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
v AS (
  SELECT DISTINCT source, t
  FROM (SELECT source, unnest(tks) AS t FROM toks)
  WHERE t <> ''
),
sizes AS (SELECT source, COUNT(*) AS vocab FROM v GROUP BY 1),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
  FROM v a JOIN v b ON a.t = b.t AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.source_a, i.source_b, sa.vocab AS vocab_a, sb.vocab AS vocab_b,
       i.n_shared,
       ROUND(CAST(i.n_shared AS DOUBLE)
             / (sa.vocab + sb.vocab - i.n_shared), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.source = i.source_a
JOIN sizes sb ON sb.source = i.source_b
ORDER BY source_a, source_b
"""


# ------------------------------------------------- corpus mix analytics

ZIPF_TOP_N = 32
PMI_TOP_K = 10
PMI_MIN_PAIR_DOCS = 5


def source_mix_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixture monitor: per-language Shannon entropy (bits) of the
    source distribution plus the effective source count 2^H — the drift
    probe you chart when a crawl or licensing change silently skews the
    training mixture (companion to `data_mixture_rebalance`, which FIXES
    the mixture this query measures).

    Scale: one (lang, source) count shuffle with map-side partials; the
    entropy fold runs on the |langs|x|sources| rollup — driver-trivial.
    Float policy: each p*log2(p) term is rounded to 12 dp and summed in
    DECIMAL, so the per-lang fold is partition-order independent and
    engine-exact (see plans/relational.py float policy)."""
    d = _docs(spark, sf_dir)
    counts = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang")
    p = F.col("n").cast("double") / F.col("tot").cast("double")
    term = F.round(-p * F.log2(p), 12).cast("decimal(28,14)")
    per = counts.withColumn("tot", F.sum("n").over(w)).select(
        "lang", "tot", term.alias("term")
    )
    h = F.round(F.sum("term").cast("double"), 6)
    return (
        per.groupBy("lang")
        .agg(
            F.max("tot").alias("n_docs"),
            F.count(F.lit(1)).alias("n_sources"),
            h.alias("entropy_bits"),
            F.round(F.pow(F.lit(2.0), h), 6).alias("effective_sources"),
        )
        .orderBy("lang")
    )


SOURCE_MIX_ENTROPY_SQL = """
WITH counts AS (
  SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1, 2
),
per AS (
  SELECT lang, n,
         SUM(n) OVER (PARTITION BY lang) AS tot
  FROM counts
),
terms AS (
  SELECT lang, tot,
         CAST(ROUND(-(CAST(n AS DOUBLE) / tot) * log2(CAST(n AS DOUBLE) / tot),
                    12) AS DECIMAL(28,14)) AS term
  FROM per
)
SELECT lang,
       CAST(MAX(tot) AS BIGINT) AS n_docs,
       COUNT(*) AS n_sources,
       ROUND(CAST(SUM(term) AS DOUBLE), 6) AS entropy_bits,
       ROUND(pow(2.0, ROUND(CAST(SUM(term) AS DOUBLE), 6)), 6)
         AS effective_sources
FROM terms
GROUP BY 1
ORDER BY lang
"""


def token_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf diagnostics: least-squares slope of log10(freq) vs log10(rank)
    over each language's top-{ZIPF_TOP_N} tokens. Natural corpora sit
    near slope -1; a flat slope flags templated/boilerplate text and a
    cliff flags token-distribution collapse — a standard pretraining
    corpus health check.

    Scale: token frequencies are one hash shuffle with map-side combine.
    The per-lang rank window sorts |vocab_lang| aggregated rows; at web
    scale you'd two-phase it (per-partition top-N heads, then re-rank
    the N x partitions survivors — top-N is monotone under union so the
    result is identical). The regression runs on <= {ZIPF_TOP_N} rows
    per lang: x/y and their products are rounded to 12 dp and summed in
    DECIMAL, so the normal-equation sums are order-independent and the
    slope matches the oracle exactly."""
    d = _docs(spark, sf_dir)
    freq = (
        d.select("lang", F.explode(TX.tokenize("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("tok"))
    top = freq.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= ZIPF_TOP_N
    )
    x = F.log10(F.col("rank").cast("double"))
    y = F.log10(F.col("cnt").cast("double"))
    dec = "decimal(28,14)"
    terms = top.select(
        "lang",
        F.round(x, 12).cast(dec).alias("x"),
        F.round(y, 12).cast(dec).alias("y"),
        F.round(x * y, 12).cast(dec).alias("xy"),
        F.round(x * x, 12).cast(dec).alias("xx"),
    )
    n = F.count(F.lit(1)).cast("double")
    sx = F.sum("x").cast("double")
    sy = F.sum("y").cast("double")
    sxy = F.sum("xy").cast("double")
    sxx = F.sum("xx").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return (
        terms.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(slope, 6).alias("zipf_slope"),
            F.round((sy - slope * sx) / n, 6).alias("zipf_intercept"),
        )
        .orderBy("lang")
    )


TOKEN_ZIPF_FIT_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
freq AS (
  SELECT lang, t AS tok, COUNT(*) AS cnt
  FROM (SELECT lang, unnest(tks) AS t FROM toks)
  WHERE t <> ''
  GROUP BY 1, 2
),
top AS (
  SELECT lang, cnt,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY cnt DESC, tok ASC) AS rank
  FROM freq
  QUALIFY rank <= {ZIPF_TOP_N}
),
terms AS (
  SELECT lang,
    CAST(ROUND(log10(CAST(rank AS DOUBLE)), 12) AS DECIMAL(28,14)) AS x,
    CAST(ROUND(log10(CAST(cnt AS DOUBLE)), 12) AS DECIMAL(28,14)) AS y,
    CAST(ROUND(log10(CAST(rank AS DOUBLE)) * log10(CAST(cnt AS DOUBLE)), 12)
         AS DECIMAL(28,14)) AS xy,
    CAST(ROUND(log10(CAST(rank AS DOUBLE)) * log10(CAST(rank AS DOUBLE)), 12)
         AS DECIMAL(28,14)) AS xx
  FROM top
)
SELECT lang,
  COUNT(*) AS n_terms,
  ROUND((COUNT(*) * CAST(SUM(xy) AS DOUBLE)
         - CAST(SUM(x) AS DOUBLE) * CAST(SUM(y) AS DOUBLE))
        / (COUNT(*) * CAST(SUM(xx) AS DOUBLE)
           - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)), 6)
    AS zipf_slope,
  ROUND((CAST(SUM(y) AS DOUBLE)
         - ((COUNT(*) * CAST(SUM(xy) AS DOUBLE)
             - CAST(SUM(x) AS DOUBLE) * CAST(SUM(y) AS DOUBLE))
            / (COUNT(*) * CAST(SUM(xx) AS DOUBLE)
               - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)))
           * CAST(SUM(x) AS DOUBLE)) / COUNT(*), 6)
    AS zipf_intercept
FROM terms
GROUP BY 1
ORDER BY lang
"""


def word_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-{PMI_TOP_K} word pairs per language by
    document co-occurrence count, scored with pointwise mutual
    information PMI = log2(N * c12 / (c1 * c2)) at document grain —
    the phrase/terminology probe of corpus analytics (and the building
    block of classic word-association features).

    Scale: pairs are generated ARRAY-LOCALLY from each document's sorted
    distinct non-stopword token set (`transform` x `slice`, the
    source_vocab_overlap idiom) — never a token self-join, so the
    explode is C(u,2) per doc, bounded by document vocabulary, and the
    only shuffles are the (lang, w1, w2) pair count and two equi-joins
    against the unigram doc-frequency table. The PMI arithmetic is
    integer counts inside one log2 — no float accumulation at all, so
    engine parity is exact by construction."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id",
        "lang",
        F.array_sort(
            F.array_distinct(
                F.filter(
                    TX.tokenize("text"),
                    lambda t: (t != "") & ~t.isin(*TX.STOPWORDS),
                )
            )
        ).alias("u"),
    )
    n_docs = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    uni = (
        toks.select("lang", F.explode("u").alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = (
        toks.select(
            "lang",
            F.explode(
                F.expr(
                    "flatten(transform(u, (x, i) -> "
                    "transform(slice(u, i + 2, size(u)), "
                    "y -> struct(x AS w1, y AS w2))))"
                )
            ).alias("p"),
        )
        .groupBy("lang", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= PMI_MIN_PAIR_DOCS)
    )
    c1 = uni.select("lang", F.col("w").alias("w1"), F.col("c").alias("c1"))
    c2 = uni.select("lang", F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi = F.round(
        F.log2(
            F.col("c12").cast("double") * F.col("n_docs").cast("double")
            / (F.col("c1").cast("double") * F.col("c2").cast("double"))
        ),
        6,
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("c12"), F.asc("w1"), F.asc("w2")
    )
    return (
        pairs.join(c1, ["lang", "w1"])
        .join(c2, ["lang", "w2"])
        .join(F.broadcast(n_docs), "lang")
        .select("lang", "w1", "w2", "c12", "c1", "c2", pmi.alias("pmi"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= PMI_TOP_K)
        .select("lang", "rk", "w1", "w2", "c12", "c1", "c2", "pmi")
        .orderBy("lang", "rk")
    )


WORD_COOCCURRENCE_PMI_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
u AS (
  SELECT doc_id, lang,
         list_sort(list_distinct(
           [t FOR t IN tks IF t <> '' AND t NOT IN {_STOP_SQL}]
         )) AS u
  FROM toks
),
nd AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
uni AS (
  SELECT lang, w, COUNT(*) AS c
  FROM (SELECT lang, unnest(u) AS w FROM u)
  GROUP BY 1, 2
),
ex AS (SELECT doc_id, lang, unnest(u) AS w FROM u),
pairs AS (
  SELECT a.lang, a.w AS w1, b.w AS w2, COUNT(*) AS c12
  FROM ex a JOIN ex b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY 1, 2, 3
  HAVING COUNT(*) >= {PMI_MIN_PAIR_DOCS}
),
scored AS (
  SELECT p.lang, p.w1, p.w2, p.c12, u1.c AS c1, u2.c AS c2,
         ROUND(log2(CAST(p.c12 AS DOUBLE) * nd.n_docs
                    / (CAST(u1.c AS DOUBLE) * u2.c)), 6) AS pmi,
         ROW_NUMBER() OVER (PARTITION BY p.lang
                            ORDER BY p.c12 DESC, p.w1, p.w2) AS rk
  FROM pairs p
  JOIN uni u1 ON u1.lang = p.lang AND u1.w = p.w1
  JOIN uni u2 ON u2.lang = p.lang AND u2.w = p.w2
  JOIN nd ON nd.lang = p.lang
)
SELECT lang, rk, w1, w2, c12, c1, c2, pmi
FROM scored WHERE rk <= {PMI_TOP_K}
ORDER BY lang, rk
"""


# --------------------------------------------------- weighted sampling

WSAMPLE_SEED = 77
WSAMPLE_K = 20


def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (Efraimidis–Spirakis A-ES): draw
    the top-{WSAMPLE_K} documents per language with inclusion priority
    proportional to weight (here n_chars — swap in any quality score) —
    the "sample good documents more often" step of corpus assembly,
    upgrading `stratified_sample`'s uniform gate to weighted draws.

    Determinism: the A-ES key is rank-equivalent to ln(u)/w with
    u = hash60(seed|doc_id)/2^60 — a reproducible pseudo-uniform, so
    the sample is stable under retries/partitioning and auditable
    per-row, exactly like the uniform gate. The key is rounded to 12 dp
    with a doc_id tiebreak before ranking (ln is the one libm call; the
    same policy `unigram_xent_quality` uses). Scale: map-only key
    computation + per-lang top-k window, which Spark executes as
    WindowGroupLimit (per-partition top-k before the shuffle) — no
    global sort, no driver collect."""
    d = _docs(spark, sf_dir)
    u = TX.hash60(
        F.col("doc_id").cast("string"), seed=WSAMPLE_SEED
    ).cast("double") / F.lit(float(1 << 60))
    score = F.round(
        F.log(u) / F.col("n_chars").cast("double"), 12
    )
    w = Window.partitionBy("lang").orderBy(F.desc("es_key"), F.asc("doc_id"))
    return (
        d.select("doc_id", "lang", "n_chars", score.alias("es_key"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= WSAMPLE_K)
        .select(
            "lang",
            "rk",
            "doc_id",
            "n_chars",
            F.round("es_key", 6).alias("es_key"),
        )
        .orderBy("lang", "rk")
    )


QUALITY_WEIGHTED_SAMPLE_SQL = f"""
WITH keyed AS (
  SELECT doc_id, lang, n_chars,
         ROUND(ln({_d_hash60("CAST(doc_id AS VARCHAR)", WSAMPLE_SEED)}
                  / CAST({1 << 60} AS DOUBLE))
               / CAST(n_chars AS DOUBLE), 12) AS es_key
  FROM documents
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                               ORDER BY es_key DESC, doc_id ASC) AS rk
  FROM keyed
)
SELECT lang, rk, doc_id, n_chars, ROUND(es_key, 6) AS es_key
FROM ranked WHERE rk <= {WSAMPLE_K}
ORDER BY lang, rk
"""


# ------------------------------------------- duplicated n-gram coverage

DUP_NGRAM_K = 8


def dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicated-ngram signal per document (the ExactSubstr
    dedup diagnostic of Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better"): every positional 8-token gram is
    counted across the WHOLE corpus, and a document's score is the
    fraction of its grams that also occur elsewhere — the signal that
    catches partial/templated duplication exact-dedup misses and that
    MinHash only sees above its Jaccard threshold.

    Shape: shingle_rows (codegen'd lead-window gram assembly) -> hash60
    per gram -> ONE shuffle keyed on the gram hash with a frame-less
    COUNT window -> per-doc rollup keyed on doc_id. At 100 TB the gram
    hash is uniform by construction (no skew), counts are map-side
    combinable in the rollup, and nothing materializes gram strings past
    the hash projection. Docs shorter than 8 tokens have no grams and are
    excluded by construction on both engines.
    """
    d = _docs(spark, sf_dir)
    grams = TX.shingle_rows(d, k=DUP_NGRAM_K).select(
        "doc_id", TX.hash60("g").alias("gh")
    )
    c = F.count(F.lit(1)).over(Window.partitionBy("gh"))
    flagged = grams.select(
        "doc_id", (c > 1).cast("long").alias("is_dup")
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("is_dup").alias("n_dup_grams"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_dup_grams",
            F.round(
                F.col("n_dup_grams").cast("double") / F.col("n_grams"), 6
            ).alias("dup_gram_frac"),
        )
        .orderBy("doc_id")
    )


DUP_NGRAM_COVERAGE_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
grams AS (
  SELECT doc_id,
         unnest([array_to_string(tks[i:i+{DUP_NGRAM_K - 1}], ' ')
                 FOR i IN generate_series(1, len(tks) - {DUP_NGRAM_K - 1})])
           AS g
  FROM toks
),
cnt AS (
  SELECT doc_id,
         COUNT(*) OVER (PARTITION BY {_d_hash60("g")}) AS c
  FROM grams
)
SELECT doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_grams,
       ROUND(CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS dup_gram_frac
FROM cnt
GROUP BY 1
ORDER BY doc_id
"""


def dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span REMOVAL — `dup_ngram_coverage` upgraded from
    diagnosis to surgery (the ExactSubstr transform of Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): every
    token covered by a corpus-duplicated 8-gram is excised, unique text
    passes through byte-identical, and the output row carries the
    provenance (n_removed, unchanged) plus the residual duplicated-gram
    count of the CLEANED corpus — the adjudicated proof the surgery
    converged (0 on this corpus).

    Shape: gram rows (codegen lead-window assembly) -> hash60 -> ONE
    count-window shuffle on the uniform gram hash -> dup start
    positions roll up per doc (collect_list, bounded by grams/doc) ->
    one doc-keyed join back to the token arrays -> the excision is
    array-local codegen (keep position p iff no dup gram starts in
    [p-7, p]) -> residual audit re-runs the gram-count pass over the
    cleaned text. At 100 TB: two gram-hash shuffles and two doc-keyed
    joins, nothing all-pairs, gram strings never outlive their hash
    projection. The per-token exists() over a doc's dup-start list is
    O(tokens x dup starts) worst-case for a fully-templated doc —
    acceptable because both factors are per-document, not corpus-sized.
    """
    k = DUP_NGRAM_K
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", TX.tokenize("text").alias("tks"))
    grams = TX.shingle_rows(d, k=k).select(
        "doc_id", "pos", TX.hash60("g").alias("gh")
    )
    c = F.count(F.lit(1)).over(Window.partitionBy("gh"))
    starts = (
        grams.select("doc_id", "pos", c.alias("c"))
        .filter(F.col("c") > 1)
        .groupBy("doc_id")
        .agg(F.collect_list("pos").alias("ss"))
    )
    j = toks.join(starts, "doc_id", "left").select(
        "doc_id",
        "tks",
        F.coalesce("ss", F.array().cast("array<int>")).alias("ss"),
    )
    keep = F.filter(
        F.sequence(F.lit(0), F.size("tks") - 1),
        lambda p: ~F.exists(
            F.col("ss"), lambda s: (s <= p) & (s >= p - (k - 1))
        ),
    )
    base = j.select(
        "doc_id",
        F.size("tks").alias("n_tokens"),
        (F.size("tks") - F.size(keep)).alias("n_removed"),
        F.concat_ws(
            " ",
            F.transform(keep, lambda p: F.element_at(F.col("tks"), p + 1)),
        ).alias("cleaned_text"),
    )
    rh = TX.shingle_rows(
        base.select("doc_id", "cleaned_text"), k=k, text_col="cleaned_text"
    ).select("doc_id", TX.hash60("g").alias("gh"))
    rc = F.count(F.lit(1)).over(Window.partitionBy("gh"))
    res = (
        rh.select("doc_id", rc.alias("c"))
        .filter(F.col("c") > 1)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("residual_dup_grams"))
    )
    return (
        base.join(res, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_removed",
            F.md5("cleaned_text").alias("cleaned_md5"),
            (F.col("n_removed") == 0).cast("int").alias("unchanged"),
            F.coalesce("residual_dup_grams", F.lit(0))
            .cast("long")
            .alias("residual_dup_grams"),
        )
        .orderBy("doc_id")
    )


DUP_SPAN_REMOVAL_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
grams AS (
  SELECT doc_id, i, array_to_string(tks[i:i+{DUP_NGRAM_K - 1}], ' ') AS g
  FROM toks,
       LATERAL unnest(generate_series(1, len(tks) - {DUP_NGRAM_K - 1}))
         AS u(i)
),
cnt AS (
  SELECT doc_id, i, COUNT(*) OVER (PARTITION BY {_d_hash60("g")}) AS c
  FROM grams
),
starts AS (SELECT doc_id, list(i) AS ss FROM cnt WHERE c > 1 GROUP BY doc_id),
cleaned AS (
  SELECT t.doc_id, len(t.tks) AS n_tokens,
         [t.tks[p] FOR p IN generate_series(1, len(t.tks))
          IF len(list_filter(COALESCE(s.ss, []),
                             x -> x <= p AND x >= p - {DUP_NGRAM_K - 1})) = 0]
           AS ck
  FROM toks t LEFT JOIN starts s USING (doc_id)
),
cg AS (
  SELECT doc_id, array_to_string(ck[i:i+{DUP_NGRAM_K - 1}], ' ') AS g
  FROM cleaned,
       LATERAL unnest(generate_series(1, len(ck) - {DUP_NGRAM_K - 1}))
         AS u(i)
),
rc AS (
  SELECT doc_id, COUNT(*) OVER (PARTITION BY {_d_hash60("g")}) AS c FROM cg
),
res AS (
  SELECT doc_id, CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS residual_dup_grams
  FROM rc GROUP BY doc_id
)
SELECT c.doc_id, CAST(n_tokens AS INT) AS n_tokens,
       CAST(n_tokens - len(ck) AS INT) AS n_removed,
       md5(COALESCE(array_to_string(ck, ' '), '')) AS cleaned_md5,
       CAST(CASE WHEN n_tokens = len(ck) THEN 1 ELSE 0 END AS INT)
         AS unchanged,
       COALESCE(res.residual_dup_grams, 0) AS residual_dup_grams
FROM cleaned c LEFT JOIN res USING (doc_id)
ORDER BY doc_id
"""


# ------------------------------------------------ Gopher quality rules

GOPHER_MIN_TOKENS = 30
GOPHER_MAX_TOKENS = 100_000
# Mean-word-length bounds as exact integer cross-multiplies: 3 <= mwl <= 8
# becomes 3*n_tokens <= n_alpha_chars <= 8*n_tokens (no float compares in
# the decision path — same policy as text_repetition_stats).
GOPHER_MWL_MIN = 3
GOPHER_MWL_MAX = 8
GOPHER_MIN_STOPWORD_HITS = 2


def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule document filter (Rae et al. 2021 §A1.1, the standard
    heuristic-quality gate of LLM corpus pipelines): per-document flags
    for token-count bounds, mean-word-length bounds, and minimum distinct
    stopword hits, rolled up to pass rates per (lang, source).

    Complements `text_repetition_stats` (repetition rules) — together
    they are the full heuristic gate; `corpus_curation_pipeline` shows
    the gates composed. All math is per-row codegen over the token array
    (word lengths via a length difference, stopword hits via
    array_intersect — array-local, no explode, no extra shuffle); the
    only shuffle is the final small rollup. Flags are integer
    cross-multiplies, so the verdicts are exact on both engines.
    """
    d = _docs(spark, sf_dir)
    tks = TX.tokenize("text")
    n_tok = F.size(tks)
    # Total alphanumeric chars = len(norm) - (n_tok - 1) separators.
    n_chars = F.length(TX.normalize_text("text")) - (n_tok - F.lit(1))
    n_stop = F.size(
        F.array_intersect(tks, F.array(*[F.lit(s) for s in TX.STOPWORDS]))
    )
    per = d.select(
        "lang",
        "source",
        n_tok.alias("n_tok"),
        n_chars.alias("n_chars_tok"),
        n_stop.alias("n_stop"),
    ).select(
        "lang",
        "source",
        (
            (F.col("n_tok") >= GOPHER_MIN_TOKENS)
            & (F.col("n_tok") <= GOPHER_MAX_TOKENS)
        ).cast("long").alias("pass_len"),
        (
            (F.col("n_chars_tok") >= F.col("n_tok") * GOPHER_MWL_MIN)
            & (F.col("n_chars_tok") <= F.col("n_tok") * GOPHER_MWL_MAX)
        ).cast("long").alias("pass_mwl"),
        (F.col("n_stop") >= GOPHER_MIN_STOPWORD_HITS)
        .cast("long")
        .alias("pass_stop"),
    )
    allp = (
        F.col("pass_len").eqNullSafe(1)
        & F.col("pass_mwl").eqNullSafe(1)
        & F.col("pass_stop").eqNullSafe(1)
    ).cast("long")
    return (
        per.withColumn("pass_all", allp)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("pass_len").alias("n_pass_len"),
            F.sum("pass_mwl").alias("n_pass_mwl"),
            F.sum("pass_stop").alias("n_pass_stop"),
            F.sum("pass_all").alias("n_pass_all"),
            F.round(
                F.sum("pass_all").cast("double") / F.count(F.lit(1)), 6
            ).alias("pass_rate"),
        )
        .orderBy("lang", "source")
    )


GOPHER_QUALITY_FLAGS_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
per AS (
  SELECT lang, source,
         len(tks) AS n_tok,
         length(norm) - (len(tks) - 1) AS n_chars_tok,
         len(list_intersect(tks, {_STOP_LIST_SQL})) AS n_stop
  FROM toks
),
flags AS (
  SELECT lang, source,
         CASE WHEN n_tok >= {GOPHER_MIN_TOKENS}
               AND n_tok <= {GOPHER_MAX_TOKENS} THEN 1 ELSE 0 END AS pass_len,
         CASE WHEN n_chars_tok >= n_tok * {GOPHER_MWL_MIN}
               AND n_chars_tok <= n_tok * {GOPHER_MWL_MAX} THEN 1 ELSE 0 END
           AS pass_mwl,
         CASE WHEN n_stop >= {GOPHER_MIN_STOPWORD_HITS} THEN 1 ELSE 0 END
           AS pass_stop
  FROM per
)
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(pass_len) AS BIGINT) AS n_pass_len,
       CAST(SUM(pass_mwl) AS BIGINT) AS n_pass_mwl,
       CAST(SUM(pass_stop) AS BIGINT) AS n_pass_stop,
       CAST(SUM(pass_len * pass_mwl * pass_stop) AS BIGINT) AS n_pass_all,
       ROUND(CAST(SUM(pass_len * pass_mwl * pass_stop) AS DOUBLE)
             / COUNT(*), 6) AS pass_rate
FROM flags
GROUP BY 1, 2
ORDER BY lang, source
"""


# ------------------------------------------------ leakage-safe split


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split that CANNOT leak near-duplicates across
    sides: the split key is the document's near-dup CLUSTER root (min
    doc_id of its MinHash-LSH connected component; singletons root at
    themselves), so A~B~C always land together — the upgrade of
    `train_val_test_split` that closes the classic eval-contamination
    hole where a test doc's near-copy sits in train. Same deterministic
    hash-bucket assignment (never rand(), stable under corpus growth),
    same cumulative bounds.

    Output is the per-split audit: docs, distinct cluster roots, token
    budget, plus `leaked_clusters` — the count of roots observed in >1
    split, which this construction forces to 0 (the column makes the
    guarantee a checked output, not a comment; the oracle recomputes it
    from scratch via the recursive-CTE components).

    Scale: the component labels exist only for docs with >= 1 near-dup
    pair (edge-set-sized, orders of magnitude under corpus size at
    100 TB); everyone else roots at itself via a left join — corpus
    shuffles once on doc_id for that join and once for the rollup.
    """
    d = _docs(spark, sf_dir)
    pairs = _minhash_pair_frame(spark, sf_dir).select("doc_a", "doc_b")
    labels = _cc_min_labels(pairs).withColumnRenamed("doc_id", "m_doc_id")
    rooted = d.join(
        labels, d.doc_id == labels.m_doc_id, "left"
    ).select(
        "doc_id",
        "text",
        F.coalesce("label", "doc_id").alias("root"),
    )
    bucket = TX.hash60(F.col("root").cast("string"), seed=SPLIT_SEED) % 100
    split = F.lit(None).cast("string")
    for name, lo, hi in SPLIT_BOUNDS:
        split = F.when((bucket >= lo) & (bucket < hi), name).otherwise(split)
    assigned = rooted.select(
        split.alias("split"),
        "root",
        F.size(TX.tokenize("text")).alias("n_tok"),
    )
    leaked = (
        assigned.groupBy("root")
        .agg(F.countDistinct("split").alias("ns"))
        .agg(
            F.sum(F.when(F.col("ns") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("leaked_clusters")
        )
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("root").alias("n_roots"),
            F.sum("n_tok").alias("sum_tokens"),
        )
        .crossJoin(F.broadcast(leaked))
        .orderBy("split")
    )


LEAKAGE_SAFE_SPLIT_SQL = f"""
WITH RECURSIVE pairs AS ({NEAR_DUP_MINHASH_LSH_SQL}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach AS (
  SELECT DISTINCT src AS doc_id, src AS label FROM edges
  UNION
  SELECT e.dst AS doc_id, r.label
  FROM reach r JOIN edges e ON e.src = r.doc_id
),
members AS (SELECT doc_id, MIN(label) AS root FROM reach GROUP BY doc_id),
toks AS ({_TOKS_SQL}),
rooted AS (
  SELECT t.doc_id, len(t.tks) AS n_tok,
         COALESCE(m.root, t.doc_id) AS root
  FROM toks t LEFT JOIN members m USING (doc_id)
),
assigned AS (
  SELECT root, n_tok,
         ({_d_hash60("root::VARCHAR", seed=SPLIT_SEED)}) % 100 AS b
  FROM rooted
),
named AS (
  SELECT {_SPLIT_CASE_SQL} AS split, root, n_tok FROM assigned
),
leaked AS (
  SELECT CAST(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS leaked_clusters
  FROM (SELECT root, COUNT(DISTINCT split) AS ns FROM named GROUP BY 1)
)
SELECT split,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT root) AS n_roots,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
       leaked.leaked_clusters
FROM named, leaked
GROUP BY 1, leaked.leaked_clusters
ORDER BY split
"""


# --------------------------------------------------- PII scrub audit

# Deterministic PII planted per doc (keyed on doc_id % 5; slot 4 is the
# clean control). The testdata corpus is digit-free word salad (checked:
# zero [0-9@<>] chars at every SF), so every match the scrub finds MUST
# be a planted span and every planted span MUST be found — the oracle
# computes expected redaction counts ANALYTICALLY from this rule, which
# sidesteps the Java-vs-RE2 lookaround dialect gap entirely (DuckDB
# never runs a regex) while still hash-adjudicating the real patterns:
# a false positive on clean text, a missed plant, or a non-idempotent
# scrub each shifts a count and fails the gate.
_PII_PLANT_SLOTS = 5  # email, ssn, phone, ipv4, clean-control


def pii_scrub_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-pipeline PII scrub audit (operators/text.py:scrub_pii): per
    (lang, source), the per-kind redaction counts over a deterministic
    dirty corpus plus the residual-match and clean-doc invariants.

    Columns: n_email/n_ssn/n_phone/n_ipv4 = matches of the REAL Java
    scrub patterns on the dirty text; n_clean_docs = docs the scrub
    left byte-identical (exactly the control slot, proving zero false
    positives); n_residual = total pattern matches AFTER scrubbing
    (idempotence/completeness, expected 0). Scale: map-only JVM
    regexp_replace/regexp_count chained in whole-stage codegen, one
    small-key rollup shuffle — the 100 TB shape of a corpus scrub."""
    d = _docs(spark, sf_dir)
    plant = F.element_at(
        F.array(
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com today"),
            ),
            F.lit(" ssn 123-45-6789 on file"),
            F.lit(" call (555) 867-5309 now"),
            F.lit(" from host 10.0.0.1 ok"),
            F.lit(""),
        ),
        (F.pmod(F.col("doc_id"), F.lit(_PII_PLANT_SLOTS)) + 1).cast("int"),
    )
    base = d.select(
        "lang",
        "source",
        F.concat(F.col("text"), plant).alias("dirty"),
    ).withColumn("scrubbed", TX.scrub_pii("dirty"))
    # One source of truth for the per-kind audit counts: the same
    # pii_counts helper users call, applied to the dirty text (what was
    # there) and the scrubbed text (what survived — idempotence).
    pre = TX.pii_counts("dirty")  # aliased n_<kind>
    resid = None
    for c in TX.pii_counts("scrubbed"):
        resid = c if resid is None else resid + c
    per = base.select(
        "lang",
        "source",
        (F.col("scrubbed") == F.col("dirty")).cast("int").alias("clean"),
        resid.alias("resid"),
        *pre,
    )
    return (
        per.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            *[F.sum(f"n_{k}").alias(f"n_{k}") for k in TX.PII_ORDER],
            F.sum("clean").alias("n_clean_docs"),
            F.sum("resid").alias("n_residual"),
        )
        .orderBy("lang", "source")
    )


PII_SCRUB_AUDIT_SQL = """
SELECT lang, source,
       COUNT(*) AS n_docs,
       COUNT(*) FILTER (WHERE doc_id % 5 = 0) AS n_email,
       COUNT(*) FILTER (WHERE doc_id % 5 = 1) AS n_ssn,
       COUNT(*) FILTER (WHERE doc_id % 5 = 2) AS n_phone,
       COUNT(*) FILTER (WHERE doc_id % 5 = 3) AS n_ipv4,
       COUNT(*) FILTER (WHERE doc_id % 5 = 4) AS n_clean_docs,
       CAST(0 AS BIGINT) AS n_residual
FROM documents
GROUP BY lang, source
ORDER BY lang, source
"""


# ------------------------------------------------- incremental near-dup

INCR_MOD = 5  # batch = doc_id % 5 == 0 (~20%), index = the rest


def near_dup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup ingest: a NEW batch of documents (doc_id %
    {INCR_MOD} == 0, the arrival simulation) is checked against the
    STANDING corpus index (the rest) — the nightly-ingest shape of
    `near_dup_minhash_lsh`, where the corpus's shingle hashes / LSH
    band table are a persisted index probed per batch, never
    recomputed per arrival.

    Same signature scheme as the full-corpus query (shingle k=
    {SHINGLE_K}, {MINHASH_N} hashes, {LSH_BANDS}x{LSH_ROWS} bands,
    exact-Jaccard verify at tau={JACCARD_TAU}), but the candidate join
    is batch-bands x index-bands (an equi-join on band key between two
    DISJOINT frames, no self-join, no batch-internal pairs) and the
    verify intersect joins batch hashes to index hashes only. Output:
    (doc_new, doc_indexed, jaccard) for every batch doc whose match in
    the index survives the exact verify — the rows an ingest pipeline
    would route to suppression/canonicalization.

    Scale: per-batch cost is O(batch shingles) + band-bucket collisions
    against the index — the index side is a standing table written once
    at corpus build (here rebuilt per run because the harness is
    stateless; `materialize` marks exactly the two frames a production
    job persists). The band join's skew profile matches the full-corpus
    query: hot buckets are boilerplate shingle patterns, absorbed by
    AQE skew splitting."""
    d = _docs(spark, sf_dir)
    # each hash frame is read by its sig agg AND the verify join
    hs_new = _shingle_hash_frame(
        d.filter(F.pmod(F.col("doc_id"), F.lit(INCR_MOD)) == 0)
    )
    hs_idx = _shingle_hash_frame(
        d.filter(F.pmod(F.col("doc_id"), F.lit(INCR_MOD)) != 0)
    )
    sig_new, bands_new = _minhash_signature_bands(hs_new)
    sig_idx, bands_idx = _minhash_signature_bands(hs_idx)
    cand = (
        bands_new.alias("a")
        .join(bands_idx.alias("b"), F.col("a.bk") == F.col("b.bk"))
        .select(
            F.col("a.doc_id").alias("doc_new"),
            F.col("b.doc_id").alias("doc_indexed"),
        )
        .distinct()
    )
    inter = (
        F.broadcast(cand)
        .join(hs_new.alias("ha"), F.col("doc_new") == F.col("ha.doc_id"))
        .join(
            hs_idx.alias("hb"),
            (F.col("doc_indexed") == F.col("hb.doc_id"))
            & (F.col("ha.h") == F.col("hb.h")),
        )
        .groupBy("doc_new", "doc_indexed")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    ).cast("double")
    return (
        inter.join(
            F.broadcast(
                sig_new.select(F.col("doc_id").alias("doc_new"), F.col("n").alias("na"))
            ),
            "doc_new",
        )
        .join(
            F.broadcast(
                sig_idx.select(
                    F.col("doc_id").alias("doc_indexed"), F.col("n").alias("nb")
                )
            ),
            "doc_indexed",
        )
        .select("doc_new", "doc_indexed", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_TAU)
        .orderBy("doc_new", "doc_indexed")
    )


NEAR_DUP_INCREMENTAL_LSH_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
sh AS ({_SH_SQL}),
mhd AS (SELECT doc_id, list_distinct([{_d_hash60('x')} FOR x IN sh]) AS mh
        FROM sh),
mhb AS (SELECT doc_id, {_MH_BASE_SQL} AS mh FROM sh),
sig AS (SELECT doc_id, {_MINHASH_SQL} AS sig FROM mhb),
bands AS (SELECT doc_id, unnest({_BAND_KEYS_SQL}) AS bk FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_indexed
  FROM bands a JOIN bands b ON a.bk = b.bk
  WHERE a.doc_id % {INCR_MOD} = 0 AND b.doc_id % {INCR_MOD} != 0
),
pairs AS (
  SELECT c.doc_new, c.doc_indexed,
         ROUND(CAST(len(list_intersect(sa.mh, sb.mh)) AS DOUBLE)
               / CAST(len(sa.mh) + len(sb.mh)
                      - len(list_intersect(sa.mh, sb.mh)) AS DOUBLE),
               6) AS jaccard
  FROM cand c
  JOIN mhd sa ON sa.doc_id = c.doc_new
  JOIN mhd sb ON sb.doc_id = c.doc_indexed
)
SELECT doc_new, doc_indexed, jaccard FROM pairs
WHERE jaccard >= {JACCARD_TAU}
ORDER BY doc_new, doc_indexed
"""


# --------------------------- sketch tier: theta/KMV set operations

THETA_K = 128          # sketch size (k minimum hash values per source)
THETA_SALT = 64        # stage-1 fanout for the scalable top-k-smallest
_THETA_MAX = float(2**60)  # hash60 range; exactly representable


def theta_sketch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-tier SET OPERATIONS: pairwise distinct-vocabulary union
    and intersection between sources estimated from THETA/KMV sketches
    (k minimum hash values) — the capability HLL cannot provide (HLLs
    union but never intersect; theta sketches do both, which is why
    they are the cross-dataset overlap primitive at corpus scale).

    Sketch: per source keep the THETA_K smallest distinct `hash60`
    values of its distinct 3-shingle set (shingles, not unigrams: the
    fixture corpus draws from a 31-word vocabulary, so the unigram
    universe would never leave the sketch's exact regime — 3-grams
    give a ~10k-element universe per source at sf0.1 and the
    estimator actually estimates). Built scale-safe in two stages — a
    salted top-k per (source, hash mod {salt}) window bounds every
    partition, then a final top-k per source over ≤ salt*k survivors —
    so no single reducer ever sees a whole source's vocabulary (the
    naive one-window version is a 20-partition skew trap at 100 TB).
    The sketch is mergeable state, THETA_K hashes per source,
    shippable between clusters like any summary.

    Estimation (per pair, standard KMV): keep the K smallest of the
    two sketches' union; θ = the Kth value; union_est = (K-1)·2^60/θ;
    jaccard ≈ matches-in-kept / K; inter_est = jaccard · union_est.
    If the union holds fewer than K hashes the sketch IS the exact set
    and both estimates collapse to exact counts.

    Adjudication follows the sketch-tier rule (claims, not just
    outputs): the EXACT intersection rides along (computed via the
    array-local pair generation of `source_vocab_overlap`, never a
    token self-join) and `within_tol` checks the estimate against a
    3σ ≈ 0.27·|union| KMV bound. The oracle rebuilds the identical
    sketch from the identical md5-based hashes — bit-for-bit, so a
    wrong window, a dropped tie, or a mis-staged top-k flips the hash.

    Reference parity: no sketch tier exists in the reference at all;
    this extends the engine's mergeable-summary family
    (approx_distinct/quantile, count-min) with set algebra."""
    d = _docs(spark, sf_dir)
    vocab = (
        d.select(
            "source",
            F.explode(TX.shingles(TX.tokenize("text"), 3)).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
        .transform(materialize)
    )
    hashed = vocab.select(
        "source", TX.hash60("tok").alias("h")
    ).distinct()
    # two-stage top-k-smallest (salted, every partition bounded)
    w1 = Window.partitionBy(
        "source", F.pmod(F.col("h"), F.lit(THETA_SALT))
    ).orderBy("h")
    w2 = Window.partitionBy("source").orderBy("h")
    sk = (
        hashed.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= THETA_K)
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= THETA_K)
        .drop("rn")
    )
    srcs = vocab.select("source").distinct()
    pairs = (
        srcs.alias("a")
        .crossJoin(srcs.alias("b"))
        .filter(F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("sa"), F.col("b.source").alias("sb")
        )
    )
    u = (
        F.broadcast(pairs)
        .join(
            sk,
            (F.col("source") == F.col("sa"))
            | (F.col("source") == F.col("sb")),
        )
        .groupBy("sa", "sb", "h")
        .agg(
            F.max((F.col("source") == F.col("sa")).cast("int")).alias(
                "in_a"
            ),
            F.max((F.col("source") == F.col("sb")).cast("int")).alias(
                "in_b"
            ),
        )
    )
    wp = Window.partitionBy("sa", "sb").orderBy("h")
    agg = (
        u.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= THETA_K)
        .groupBy("sa", "sb")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.max("h").alias("kth"),
            F.sum(
                ((F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("long")
            ).alias("matches"),
        )
    )
    # exact yardstick: array-local pair generation (no token self-join)
    exact = (
        vocab.groupBy("tok")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (x, i) -> "
                    "transform(slice(ss, i + 2, size(ss)), "
                    "y -> struct(x AS sa, y AS sb))))"
                )
            ).alias("p")
        )
        .groupBy("p.sa", "p.sb")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sizes = vocab.groupBy("source").agg(
        F.count(F.lit(1)).alias("vocab")
    )
    k = F.lit(THETA_K)
    union_raw = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise(
        (k - 1).cast("double")
        * F.lit(_THETA_MAX)
        / F.col("kth").cast("double")
    )
    inter_raw = F.when(
        F.col("n_kept") < k, F.col("matches").cast("double")
    ).otherwise(
        F.col("matches").cast("double") * F.col("u_raw") / k.cast("double")
    )
    union_exact = (
        F.col("vocab_a") + F.col("vocab_b") - F.col("n_shared")
    ).cast("double")
    return (
        agg.join(exact, ["sa", "sb"], "left")
        .na.fill({"n_shared": 0})
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("sa"),
                    F.col("vocab").alias("vocab_a"),
                )
            ),
            "sa",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("sb"),
                    F.col("vocab").alias("vocab_b"),
                )
            ),
            "sb",
        )
        .withColumn("u_raw", union_raw)
        .withColumn("i_raw", inter_raw)
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "n_shared",
            F.round("u_raw", 2).alias("union_est"),
            F.round("i_raw", 2).alias("inter_est"),
            (
                F.abs(F.col("i_raw") - F.col("n_shared"))
                <= F.lit(0.27) * union_exact + F.lit(2.0)
            ).alias("within_tol"),
        )
        .orderBy("source_a", "source_b")
    )


THETA_SKETCH_OVERLAP_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
v AS (
  SELECT DISTINCT source, t
  FROM (SELECT source, unnest({_SH_POS_SQL}) AS t FROM toks)
  WHERE t <> ''
),
hashed AS (SELECT DISTINCT source, {_d_hash60('t')} AS h FROM v),
sk AS (
  SELECT source, h FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM hashed)
  WHERE rn <= {THETA_K}
),
srcs AS (SELECT DISTINCT source FROM v),
pairs AS (
  SELECT a.source AS sa, b.source AS sb
  FROM srcs a JOIN srcs b ON a.source < b.source
),
u AS (
  SELECT p.sa, p.sb, s.h,
         MAX(CASE WHEN s.source = p.sa THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN s.source = p.sb THEN 1 ELSE 0 END) AS in_b
  FROM pairs p JOIN sk s ON s.source IN (p.sa, p.sb)
  GROUP BY 1, 2, 3
),
agg AS (
  SELECT sa, sb, COUNT(*) AS n_kept, MAX(h) AS kth,
         SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
           AS matches
  FROM (
    SELECT u.*,
           row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
    FROM u)
  WHERE rn <= {THETA_K}
  GROUP BY 1, 2
),
ex AS (
  SELECT a.source AS sa, b.source AS sb, COUNT(*) AS n_shared
  FROM v a JOIN v b ON a.t = b.t AND a.source < b.source
  GROUP BY 1, 2
),
sizes AS (SELECT source, COUNT(*) AS vocab FROM v GROUP BY 1),
est AS (
  SELECT g.sa, g.sb, COALESCE(e.n_shared, 0) AS n_shared,
         sa_.vocab AS vocab_a, sb_.vocab AS vocab_b,
         CASE WHEN g.n_kept < {THETA_K}
              THEN CAST(g.n_kept AS DOUBLE)
              ELSE CAST({THETA_K - 1} AS DOUBLE) * power(2.0, 60)
                   / CAST(g.kth AS DOUBLE) END AS u_raw,
         g.n_kept, g.matches
  FROM agg g
  LEFT JOIN ex e ON e.sa = g.sa AND e.sb = g.sb
  JOIN sizes sa_ ON sa_.source = g.sa
  JOIN sizes sb_ ON sb_.source = g.sb
)
SELECT sa AS source_a, sb AS source_b, n_shared,
       ROUND(u_raw, 2) AS union_est,
       ROUND(CASE WHEN n_kept < {THETA_K}
                  THEN CAST(matches AS DOUBLE)
                  ELSE CAST(matches AS DOUBLE) * u_raw
                       / CAST({THETA_K} AS DOUBLE) END, 2) AS inter_est,
       ABS(CASE WHEN n_kept < {THETA_K}
                THEN CAST(matches AS DOUBLE)
                ELSE CAST(matches AS DOUBLE) * u_raw
                     / CAST({THETA_K} AS DOUBLE) END
           - n_shared)
         <= 0.27 * CAST(vocab_a + vocab_b - n_shared AS DOUBLE) + 2.0
         AS within_tol
FROM est
ORDER BY source_a, source_b
"""


# ------------------------------------ corpus search (inverted index)

SEARCH_QUERIES = {
    "q_dup_merge_window": ["dup", "merge", "window"],
    "q_vec_slow_big_stream": ["vector", "slow", "big", "stream"],
    "q_customer_query": ["customer", "query"],
}
SEARCH_PHRASES = {
    "p_row_fast_merge": "row fast merge",
    "p_sort_table_window": "sort table window",
    "p_query_big_table": "query big table",
}
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10


def _values_df(spark: SparkSession, rows: list[tuple], cols: str) -> DataFrame:
    """Tiny literal frame as a VALUES local relation (LocalTableScan in
    the plan) — createDataFrame would parallelize it into an RDD-backed
    scan, which the plan lint rightly flags as a driver-materialized
    input even when the payload is a handful of query terms."""

    def lit(v):
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(v)

    vals = ", ".join(
        "(" + ", ".join(lit(v) for v in r) + ")" for r in rows
    )
    return spark.sql(f"SELECT * FROM (VALUES {vals}) AS t({cols})")


def _search_skeleton(spark: SparkSession, mapping: dict) -> DataFrame:
    return _values_df(
        spark, [(k,) for k in sorted(mapping)], "query_id"
    )


def keyword_search_conjunctive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Conjunctive (AND) keyword search through an INVERTED-INDEX plan
    shape: explode the corpus into (term, doc) postings, keep only the
    query terms' posting lists (the filter rides INTO the explode's
    projection — no full posting build), and intersect lists by
    counting distinct matched terms per doc against the query's term
    count. This is the search-engine execution model expressed
    relationally: posting-list intersection == groupBy(doc) HAVING
    count(DISTINCT term) = |query|.

    Output is one row per query (a VALUES skeleton keeps zero-match
    queries present): match count plus an order-free doc-set checksum
    (sum + min + max of matched doc_ids) the oracle recomputes via
    list_has_all over the raw text — a doc matched by the index but
    not the scan (or vice versa) shifts the checksum and fails.

    Scale: the posting shuffle is (query terms x their docs), not the
    corpus; stopword-heavy terms skew their reducer, which is why real
    engines intersect rarest-first — here the per-(query,doc) count
    aggregate does the equivalent in one map-side-combinable pass.
    Reference parity: the reference has no text search; this is the
    retrieval tier of the LLM-pipeline surface."""
    d = _docs(spark, sf_dir)
    terms = _values_df(
        spark,
        [
            (qid, t, len(ts))
            for qid, ts in SEARCH_QUERIES.items()
            for t in ts
        ],
        "query_id, term, n_terms",
    )
    postings = (
        d.select("doc_id", F.explode(TX.tokenize("text")).alias("term"))
        .join(F.broadcast(terms), "term")
        .groupBy("query_id", "doc_id", "n_terms")
        .agg(F.count_distinct("term").alias("hit"))
        .filter(F.col("hit") == F.col("n_terms"))
    )
    agg = postings.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_matched"),
        F.sum("doc_id").alias("doc_checksum"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )
    return (
        _search_skeleton(spark, SEARCH_QUERIES)
        .join(agg, "query_id", "left")
        .na.fill(
            {"n_matched": 0, "doc_checksum": 0, "first_doc": -1,
             "last_doc": -1}
        )
        .orderBy("query_id")
    )


def _kw_sql() -> str:
    cases = "\nUNION ALL\n".join(
        f"SELECT '{qid}' AS query_id, "
        f"[{', '.join(repr(t) for t in ts)}] AS terms"
        for qid, ts in sorted(SEARCH_QUERIES.items())
    )
    return f"""
WITH toks AS ({{toks}}),
q AS ({cases}),
m AS (
  SELECT q.query_id, t.doc_id
  FROM q JOIN toks t ON list_has_all(t.tks, q.terms)
)
SELECT q.query_id,
       COALESCE(COUNT(m.doc_id), 0) AS n_matched,
       CAST(COALESCE(SUM(m.doc_id), 0) AS BIGINT) AS doc_checksum,
       COALESCE(MIN(m.doc_id), -1) AS first_doc,
       COALESCE(MAX(m.doc_id), -1) AS last_doc
FROM q LEFT JOIN m ON m.query_id = q.query_id
GROUP BY q.query_id
ORDER BY q.query_id
"""


def phrase_search_positional(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact PHRASE search through positional postings: posexplode the
    corpus into (doc, term, position) and match a w-word phrase by
    joining the w posting lists on (doc, position + offset) — the
    positional-index adjacency walk every phrase-capable engine runs,
    expressed as w-1 equi-joins on (doc_id, pos) keys.

    The oracle finds phrases by space-padded substring position over
    the normalized text — a COMPLETELY DIFFERENT algorithm, so
    agreement adjudicates the index construction end-to-end (an
    off-by-one in the position key, a dropped duplicate occurrence, a
    boundary bug at the doc edge all diverge). Zero-match phrases stay
    present via the VALUES skeleton (sf0.001 genuinely has one).

    Scale: postings for the phrase's terms only; the adjacency joins
    are keyed on (doc, pos) — uniformly distributed, no skew; w-1
    joins of filtered lists, never a text scan per phrase."""
    d = _docs(spark, sf_dir)
    postings = d.select(
        "doc_id",
        F.posexplode(TX.tokenize("text")).alias("pos", "term"),
    )
    out = None
    for pid, phrase in sorted(SEARCH_PHRASES.items()):
        words = phrase.split()
        m = postings.filter(F.col("term") == words[0]).select(
            "doc_id", F.col("pos").alias("p0")
        )
        for i, w in enumerate(words[1:], start=1):
            nxt = postings.filter(F.col("term") == w).select(
                F.col("doc_id").alias("d_"), F.col("pos").alias("p_")
            )
            m = m.join(
                nxt,
                (F.col("doc_id") == F.col("d_"))
                & (F.col("p_") == F.col("p0") + i),
            ).drop("d_", "p_")
        hits = m.select("doc_id").distinct()
        row = hits.agg(
            F.lit(pid).alias("query_id"),
            F.count(F.lit(1)).alias("n_matched"),
            F.coalesce(F.sum("doc_id"), F.lit(0)).alias("doc_checksum"),
            F.coalesce(F.min("doc_id"), F.lit(-1)).alias("first_doc"),
            F.coalesce(F.max("doc_id"), F.lit(-1)).alias("last_doc"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("query_id")


def _phrase_sql() -> str:
    cases = "\nUNION ALL\n".join(
        f"SELECT '{pid}' AS query_id, '{ph}' AS phrase"
        for pid, ph in sorted(SEARCH_PHRASES.items())
    )
    return f"""
WITH toks AS ({{toks}}),
q AS ({cases}),
m AS (
  SELECT q.query_id, t.doc_id
  FROM q JOIN toks t
    ON position((' ' || q.phrase || ' ') IN (' ' || t.norm || ' ')) > 0
)
SELECT q.query_id,
       COALESCE(COUNT(m.doc_id), 0) AS n_matched,
       CAST(COALESCE(SUM(m.doc_id), 0) AS BIGINT) AS doc_checksum,
       COALESCE(MIN(m.doc_id), -1) AS first_doc,
       COALESCE(MAX(m.doc_id), -1) AS last_doc
FROM q LEFT JOIN m ON m.query_id = q.query_id
GROUP BY q.query_id
ORDER BY q.query_id
"""


KEYWORD_SEARCH_CONJUNCTIVE_SQL = _kw_sql().format(toks=_TOKS_SQL)
PHRASE_SEARCH_POSITIONAL_SQL = _phrase_sql().format(toks=_TOKS_SQL)


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (k1={k1}, b={b}): score every document
    holding at least one query term and return the top-{k} per query
    with deterministic tie-break (score desc, doc_id asc) — the
    classic lexical ranking tier under any RAG or dedup-by-retrieval
    pipeline.

    Engine-exact float policy (see plans/relational.py): idf and each
    per-(doc,term) partial score are rounded to 12 dp and summed in
    DECIMAL so the fold is partition-order independent; avgdl is
    decimal-exact (integer token counts) rounded to 6 dp before use.
    The oracle recomputes the identical formula from the raw text, so
    a tf/df/length bug or a wrong tie-break flips the hash.

    Scale: tf postings only for query terms (filter inside the
    explode projection); df and avgdl are map-side-combinable
    aggregates; the final top-k is a bounded per-query window."""
    d = _docs(spark, sf_dir)
    terms = _values_df(
        spark,
        [(qid, t) for qid, ts in SEARCH_QUERIES.items() for t in ts],
        "query_id, term",
    )
    toks = d.select(
        "doc_id", F.explode(TX.tokenize("text")).alias("term")
    ).filter(F.col("term") != "")
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum(F.col("dl").cast("decimal(28,6)"))
            / F.count(F.lit(1)),
            6,
        )
        .cast("double")
        .alias("avgdl"),
    )
    tf = (
        toks.join(F.broadcast(terms.select("term").distinct()), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    k1, b = F.lit(BM25_K1), F.lit(BM25_B)
    idf = F.round(
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        ),
        12,
    )
    part = F.round(
        F.col("idf")
        * (F.col("tf") * (k1 + 1))
        / (
            F.col("tf")
            + k1
            * (F.lit(1.0) - b + b * F.col("dl") / F.col("avgdl"))
        ),
        12,
    )
    scored = (
        tf.join(F.broadcast(terms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(df_), "term")
        .withColumn("idf", idf)
        .withColumn("part", part.cast("decimal(28,14)"))
        .groupBy("query_id", "doc_id")
        .agg(
            F.round(F.sum("part"), 6).cast("double").alias("score")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOPK)
        .select("query_id", "rank", "doc_id", "score")
        .orderBy("query_id", "rank")
    )


bm25_search.__doc__ = bm25_search.__doc__.format(
    k1=BM25_K1, b=BM25_B, k=BM25_TOPK
)


def _bm25_sql() -> str:
    cases = "\nUNION ALL\n".join(
        f"SELECT '{qid}' AS query_id, t AS term "
        f"FROM unnest([{', '.join(repr(t) for t in ts)}]) AS u(t)"
        for qid, ts in sorted(SEARCH_QUERIES.items())
    )
    return f"""
WITH toks AS ({{toks}}),
q AS ({cases}),
tk AS (
  SELECT doc_id, unnest(tks) AS term FROM toks
),
tk2 AS (SELECT doc_id, term FROM tk WHERE term <> ''),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tk2 GROUP BY 1),
stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(ROUND(SUM(CAST(dl AS DECIMAL(28,6))) / COUNT(*), 6)
              AS DOUBLE) AS avgdl
  FROM dl
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM tk2
  WHERE term IN (SELECT DISTINCT term FROM q)
  GROUP BY 1, 2
),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT q.query_id, tf.doc_id,
         CAST(ROUND(SUM(CAST(ROUND(
             ROUND(ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5)),
                   12)
             * (tf.tf * ({BM25_K1} + 1))
             / (tf.tf + {BM25_K1}
                * (1.0 - {BM25_B}
                   + {BM25_B} * dl.dl / s.avgdl)), 12)
             AS DECIMAL(28,14))), 6) AS DOUBLE) AS score
  FROM tf
  JOIN q ON q.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN df ON df.term = tf.term
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT query_id, rank, doc_id, score
FROM (
  SELECT scored.*,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         ) AS rank
  FROM scored)
WHERE rank <= {BM25_TOPK}
ORDER BY query_id, rank
"""


BM25_SEARCH_SQL = _bm25_sql().format(toks=_TOKS_SQL)


# --------------------------- link analysis: PageRank on word graph

PAGERANK_ITERS = 5
PAGERANK_D = 0.85     # damping
PAGERANK_DP = 12      # per-term rounding: kills cross-engine ulp drift


def token_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PAGERANK over the word co-occurrence graph — the link-
    analysis tier next to the connected-components family: nodes are
    tokens, an edge (a, b) carries the number of documents where both
    occur, and {it} power iterations of damped rank flow run as pure
    DataFrame algebra. The fixture vocabulary is small, but the PLAN
    is the web-scale one: each iteration is ranks ⋈ edges on src (one
    key shuffle of O(E) contribution rows) + a dst-keyed sum — never
    adjacency matrices, never driver-side state beyond the loop
    counter.

    Engine-exactness: transition probabilities (w / out-weight), each
    contribution (rank x p), and each new rank ((1-d)/N + d·Σ) are
    rounded to {dp} dp, with the Σ accumulated in DECIMAL — so every
    iteration is bit-reproducible and the DuckDB oracle (the same
    {it} iterations unrolled as CTEs) rebuilds identical ranks.
    Nodes join from a skeleton each iteration (LEFT), so a node with
    no inbound edges would keep its teleport mass instead of
    vanishing (the classic lost-mass bug; the co-occurrence graph is
    symmetric, but the plan must not rely on that).

    Scale: edge generation reuses the array-local pair pattern (pairs
    emitted per doc from the sorted distinct-token array, counted by
    key); iterations shuffle O(E) rows with map-side partial sums.
    Reference parity: none — a new analysis family for the engine."""
    d = _docs(spark, sf_dir)
    toks = (
        d.select("doc_id", F.explode(TX.tokenize("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    pairs = (
        toks.groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("tok")).alias("ts"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ts, (x, i) -> "
                    "transform(slice(ts, i + 2, size(ts)), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .groupBy("p.a", "p.b")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    edges = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "w"
    ).unionByName(
        pairs.select(
            F.col("b").alias("src"), F.col("a").alias("dst"), "w"
        )
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("wsum"))
    trans = edges.join(outw, "src").select(
        "src",
        "dst",
        F.round(
            F.col("w").cast("double") / F.col("wsum").cast("double"),
            PAGERANK_DP,
        ).alias("p"),
    )
    from myserver_datawarehouse_spark.session import materialize

    trans = materialize(trans)  # shared by every iteration
    nodes = trans.select(F.col("src").alias("token")).distinct()
    n_nodes = nodes.count()  # scalar: the only driver value (like CC)
    r0 = F.round(F.lit(1.0) / F.lit(float(n_nodes)), PAGERANK_DP)
    base = F.round(
        F.lit(1.0 - PAGERANK_D) / F.lit(float(n_nodes)), PAGERANK_DP
    )
    ranks = nodes.select("token", r0.alias("rank"))
    for _ in range(PAGERANK_ITERS):
        contribs = (
            ranks.join(
                trans, ranks["token"] == trans["src"]
            )
            .select(
                "dst",
                F.round(F.col("rank") * F.col("p"), PAGERANK_DP)
                .cast("decimal(28,14)")
                .alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").cast("double").alias("s"))
        )
        ranks = (
            nodes.join(
                contribs, nodes["token"] == contribs["dst"], "left"
            )
            .select(
                "token",
                F.round(
                    base
                    + F.lit(PAGERANK_D) * F.coalesce(F.col("s"), F.lit(0.0)),
                    PAGERANK_DP,
                ).alias("rank"),
            )
        )
    w = Window.orderBy(F.col("rank").desc(), F.col("token"))
    return ranks.select(
        "token",
        F.round("rank", 8).alias("rank"),
        F.row_number().over(w).alias("pos"),
    ).orderBy("pos")


def _pagerank_sql() -> str:
    d, dp = PAGERANK_D, PAGERANK_DP
    parts = [
        f"""toks AS (
  SELECT DISTINCT doc_id, t AS tok
  FROM (SELECT doc_id, unnest(tks) AS t FROM tk0)
  WHERE t <> ''
),
pairs AS (
  SELECT x.tok AS a, y.tok AS b, COUNT(*) AS w
  FROM toks x JOIN toks y
    ON x.doc_id = y.doc_id AND x.tok < y.tok
  GROUP BY 1, 2
),
edges AS (
  SELECT a AS src, b AS dst, w FROM pairs
  UNION ALL
  SELECT b AS src, a AS dst, w FROM pairs
),
trans AS (
  SELECT src, dst,
         ROUND(CAST(w AS DOUBLE) / CAST(SUM(w) OVER (PARTITION BY src)
                                        AS DOUBLE), {dp}) AS p
  FROM edges
),
nodes AS (SELECT DISTINCT src AS token FROM trans),
nn AS (SELECT COUNT(*) AS n FROM nodes),
r0 AS (
  SELECT token, ROUND(1.0 / CAST(n AS DOUBLE), {dp}) AS rank
  FROM nodes, nn
)"""
    ]
    for i in range(1, PAGERANK_ITERS + 1):
        parts.append(
            f"""c{i} AS (
  SELECT t.dst,
         CAST(SUM(CAST(ROUND(r.rank * t.p, {dp}) AS DECIMAL(28,14)))
              AS DOUBLE) AS s
  FROM r{i - 1} r JOIN trans t ON t.src = r.token
  GROUP BY 1
),
r{i} AS (
  SELECT n.token,
         ROUND(ROUND((1.0 - {d}) / CAST(nn.n AS DOUBLE), {dp})
               + {d} * COALESCE(c.s, 0.0), {dp}) AS rank
  FROM nodes n CROSS JOIN nn
  LEFT JOIN c{i} c ON c.dst = n.token
)"""
        )
    return (
        "WITH tk0 AS (" + _TOKS_SQL + "),\n"
        + ",\n".join(parts)
        + f"""
SELECT token, ROUND(rank, 8) AS rank,
       CAST(ROW_NUMBER() OVER (ORDER BY rank DESC, token)
            AS INT) AS pos
FROM r{PAGERANK_ITERS}
ORDER BY pos
"""
    )


TOKEN_PAGERANK_SQL = _pagerank_sql()


# ------------------------- BPE merge training (tokenizer induction)

BPE_ITERS = 4


def bpe_merge_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-PAIR-ENCODING merge training over the corpus — tokenizer
    induction as dataflow, the step every LLM data pipeline runs
    before token counting means anything. {it} greedy merge rounds:
    words are split to character symbols; each round counts adjacent
    symbol pairs weighted by word frequency, merges the most frequent
    pair (ties broken lexicographically), and rewrites every word's
    symbol sequence LEFTMOST-GREEDY (the 'aaa' + merge(a,a) → [aa, a]
    rule — both engines implement the identical fold, Spark as an
    `aggregate` lambda, DuckDB as a `list_reduce`).

    The adjudicated output is the merge table itself — (iteration,
    left, right, pair frequency) — so a drift anywhere (tokenization,
    pair counting, tie-break, or the greedy rewrite feeding the NEXT
    round's counts) flips the hash by round {it} at the latest.

    Scale (the part that matters at 100 TB): BPE never iterates over
    the corpus. The corpus is touched ONCE to build the word-frequency
    table (map-side tokenize + one count shuffle); every merge round
    runs on that VOCABULARY-sized table (pair explode + count +
    argmax + rewrite), which is millions of rows regardless of corpus
    size — precisely how production tokenizer training (SentencePiece
    et al.) stays tractable. The only driver values are the {it}
    winning pairs (one 1-row collect per round, like pagerank's node
    count). Reference parity: none — LLM-pipeline surface."""
    _, merges = _bpe_train(spark, sf_dir)
    return _values_df(
        spark,
        merges,
        "it, left_sym, right_sym, pair_freq",
    ).select(
        F.col("it").cast("int").alias("it"),
        "left_sym",
        "right_sym",
        F.col("pair_freq").cast("bigint").alias("pair_freq"),
    ).orderBy("it")


def _bpe_train(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> tuple[DataFrame, list[tuple[int, str, str, int]]]:
    """The shared BPE training loop: returns (the vocabulary frame with
    its fully-rewritten symbol sequences after BPE_ITERS greedy merges,
    the merge table). bpe_merge_training adjudicates the merges;
    bpe_encode_corpus adjudicates the encoded vocabulary's token
    statistics — one loop, two audited surfaces. Pass `docs` to train
    on a sub-corpus (bpe_sampled_training's sampled leg); the default
    is the full documents table, plan-identical to pre-round-11."""
    from myserver_datawarehouse_spark.session import materialize

    d = _docs(spark, sf_dir) if docs is None else docs
    words = (
        d.select(F.explode(TX.tokenize("text")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "w",
            "cnt",
            F.expr(
                "transform(sequence(1, length(w)), "
                "i -> substring(w, i, 1))"
            ).alias("s"),
        )
    )
    # materialize: every round re-reads the rewritten vocabulary (pair
    # count + argmax + rewrite); without the cut each round would
    # re-run the whole corpus tokenize + every prior rewrite.
    words = materialize(words)
    merges: list[tuple[int, str, str, int]] = []
    for it in range(1, BPE_ITERS + 1):
        best = (
            words.select(
                "cnt",
                F.explode(
                    F.expr(
                        "zip_with(slice(s, 1, size(s)-1), "
                        "slice(s, 2, size(s)-1), "
                        "(x, y) -> struct(x AS a, y AS b))"
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("f"))
            .orderBy(F.col("f").desc(), "a", "b")
            .limit(1)
            .collect()[0]
        )
        a, b, f = best["a"], best["b"], int(best["f"])
        merges.append((it, a, b, f))
        ae = a.replace("'", "''")
        be = b.replace("'", "''")
        me = (a + b).replace("'", "''")
        words = materialize(
            words.select(
                "w",
                "cnt",
                F.expr(
                    f"aggregate(slice(s, 2, size(s)-1), "
                    f"array(element_at(s, 1)), "
                    f"(acc, x) -> CASE WHEN element_at(acc, -1) = '{ae}' "
                    f"AND x = '{be}' "
                    f"THEN concat(slice(acc, 1, size(acc)-1), "
                    f"array('{me}')) "
                    f"ELSE concat(acc, array(x)) END)"
                ).alias("s"),
            )
        )
    return words, merges


bpe_merge_training.__doc__ = bpe_merge_training.__doc__.format(
    it=BPE_ITERS
)


def _bpe_cte_parts(p: str = "", toks_sql: str | None = None) -> list[str]:
    """The BPE training CTE chain with every CTE name prefixed by `p`
    (so two independently-trained chains — full corpus and sampled —
    can coexist in one statement) reading its tokens from `toks_sql`
    (default: the full documents table). p="" reproduces the
    pre-round-11 chain byte-for-byte."""
    toks = _TOKS_SQL if toks_sql is None else toks_sql
    parts = [
        f"""{p}tk0 AS ({toks}),
{p}words AS (
  SELECT t AS w, COUNT(*) AS cnt
  FROM (SELECT unnest(tks) AS t FROM {p}tk0)
  WHERE t <> '' GROUP BY 1
),
{p}w0 AS (
  SELECT w, cnt,
         [substr(w, i, 1) FOR i IN generate_series(1, length(w))] AS s
  FROM {p}words
)"""
    ]
    for i in range(1, BPE_ITERS + 1):
        parts.append(
            f"""{p}p{i} AS (
  SELECT u.a AS a, u.b AS b, SUM(cnt) AS f
  FROM {p}w{i - 1},
       UNNEST([{{'a': s[j], 'b': s[j + 1]}}
               FOR j IN generate_series(1, len(s) - 1)]) AS t(u)
  GROUP BY 1, 2
),
{p}b{i} AS (
  SELECT a, b, a || b AS m, f
  FROM {p}p{i} ORDER BY f DESC, a, b LIMIT 1
),
{p}w{i} AS (
  SELECT w.w, w.cnt,
         string_split(list_reduce(w.s,
           (acc, x) -> CASE
             WHEN (acc = b.a OR ends_with(acc, chr(31) || b.a))
                  AND x = b.b
             THEN substr(acc, 1, length(acc) - length(b.a)) || b.m
             ELSE acc || chr(31) || x END), chr(31)) AS s
  FROM {p}w{i - 1} w CROSS JOIN {p}b{i} b
)"""
        )
    return parts


def _bpe_merges_union(p: str = "") -> str:
    return "\nUNION ALL\n".join(
        f"SELECT {i} AS it, a AS left_sym, b AS right_sym, "
        f"f AS pair_freq FROM {p}b{i}"
        for i in range(1, BPE_ITERS + 1)
    )


def _bpe_sql() -> str:
    parts = _bpe_cte_parts()
    unions = _bpe_merges_union()
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT CAST(it AS INT) AS it, left_sym, right_sym,"
        f" CAST(pair_freq AS BIGINT) AS pair_freq"
        f"\nFROM ({unions})\nORDER BY it\n"
    )


BPE_MERGE_TRAINING_SQL = _bpe_sql()


def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the trained BPE merges: the corpus vocabulary after all
    BPE_ITERS greedy rewrites, rolled up per final token — frequency
    (occurrences weighted by word count), distinct words containing it,
    and token length. This is the tokenizer's OUTPUT side (what the
    token-count budget of a training run is measured in), adjudicating
    the train→apply contract end-to-end: a drift anywhere in the merge
    chain changes some word's final segmentation and flips a frequency.

    Scale: same as training — the corpus is touched once for the word
    frequencies; the rewrites and this rollup run on the
    vocabulary-sized frame."""
    words, _ = _bpe_train(spark, sf_dir)
    return (
        words.select("w", "cnt", F.explode("s").alias("token"))
        .groupBy("token")
        .agg(
            F.sum("cnt").alias("freq"),
            F.countDistinct("w").alias("n_words"),
        )
        .select(
            "token",
            F.length("token").alias("token_len"),
            "freq",
            "n_words",
        )
        .orderBy(F.col("freq").desc(), "token")
    )


def _bpe_encode_sql() -> str:
    # Reuse the training CTE chain; the final SELECT unnests the
    # rewritten symbol sequences of w{BPE_ITERS} instead of the merges.
    chain = _bpe_sql()
    head, _, _tail = chain.partition("\nSELECT CAST(it AS INT) AS it,")
    return (
        head
        + f"""
SELECT token, CAST(length(token) AS INT) AS token_len,
       CAST(SUM(cnt) AS BIGINT) AS freq,
       CAST(COUNT(DISTINCT w) AS BIGINT) AS n_words
FROM (
  SELECT w, cnt, unnest(s) AS token FROM w{BPE_ITERS}
)
GROUP BY token
ORDER BY freq DESC, token
"""
    )


BPE_ENCODE_CORPUS_SQL = _bpe_encode_sql()


def bpe_sampled_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE the sampled-training mitigation SCALE.md §8g documents —
    the honest-cost note turned into an adjudicated contract. Greedy
    BPE's driver-paced loop is bounded by merge count, not corpus rows,
    but production (SentencePiece et al.) still trains the merge table
    on a frequency-weighted SAMPLE because the table converges with
    corpus frequency statistics, then applies the merges distributed.
    This query runs BOTH trainings — the full corpus and the
    Efraimidis–Spirakis A-ES weighted sample (the exact
    `quality_weighted_sample` selection: top-{WSAMPLE_K} docs per
    language, inclusion priority ∝ n_chars, deterministic hash60
    uniform) — and adjudicates the per-iteration comparison: winning
    pair of each round side by side with an `agree` flag. On this
    fixture the output IS the measured convergence curve: every
    agreeing round is evidence the sampled table converges; any
    divergence is disclosed (round, both pairs, both frequencies)
    rather than asserted away. Measured: rounds 1-2 agree at every SF;
    rounds 3-4 reorder NEAR-TIE pairs (full-corpus frequencies within
    ~2% — e.g. 27095 vs 27060 at sf0.1), precisely the regime where
    sampling noise exceeds the frequency gap; clearly-separated
    winners are stable under the sample.

    Scale: the sampled leg's word-frequency table is built from
    {WSAMPLE_K}×n_langs docs — corpus-size-independent — so its merge
    loop costs the same BPE_ITERS driver round-trips over a much
    smaller vocabulary frame; at 100 TB this is the difference between
    touching the corpus once (full leg, unavoidable for the yardstick)
    and touching a fixed-size sample (what production runs). The
    oracle replays both trainings via two prefixed CTE chains in one
    statement."""
    d = _docs(spark, sf_dir)
    u = TX.hash60(
        F.col("doc_id").cast("string"), seed=WSAMPLE_SEED
    ).cast("double") / F.lit(float(1 << 60))
    es = F.round(F.log(u) / F.col("n_chars").cast("double"), 12)
    w = Window.partitionBy("lang").orderBy(
        F.desc("es_key"), F.asc("doc_id")
    )
    sampled = (
        d.withColumn("es_key", es)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= WSAMPLE_K)
        .drop("es_key", "rk")
    )
    _, full_merges = _bpe_train(spark, sf_dir)
    _, samp_merges = _bpe_train(spark, sf_dir, docs=sampled)
    rows = [
        (
            it_f,
            fl,
            fr,
            ff,
            sl,
            sr,
            sf_,
            1 if (fl, fr) == (sl, sr) else 0,
        )
        for (it_f, fl, fr, ff), (_it_s, sl, sr, sf_) in zip(
            full_merges, samp_merges
        )
    ]
    return (
        _values_df(
            spark,
            rows,
            "it, full_left, full_right, full_freq, "
            "sample_left, sample_right, sample_freq, agree",
        )
        .select(
            F.col("it").cast("int").alias("it"),
            "full_left",
            "full_right",
            F.col("full_freq").cast("bigint").alias("full_freq"),
            "sample_left",
            "sample_right",
            F.col("sample_freq").cast("bigint").alias("sample_freq"),
            F.col("agree").cast("int").alias("agree"),
        )
        .orderBy("it")
    )


bpe_sampled_training.__doc__ = bpe_sampled_training.__doc__.replace(
    "{WSAMPLE_K}", str(WSAMPLE_K)
)


def _bpe_sampled_sql() -> str:
    sample_ctes = f"""sample_keyed AS (
  SELECT doc_id, lang, n_chars,
         ROUND(ln({_d_hash60("CAST(doc_id AS VARCHAR)", WSAMPLE_SEED)}
                  / CAST({1 << 60} AS DOUBLE))
               / CAST(n_chars AS DOUBLE), 12) AS es_key
  FROM documents
),
sample_ids AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (PARTITION BY lang
                              ORDER BY es_key DESC, doc_id ASC) AS rk
    FROM sample_keyed
  ) WHERE rk <= {WSAMPLE_K}
),
sample_docs AS (
  SELECT d.* FROM documents d JOIN sample_ids USING (doc_id)
)"""
    full_parts = _bpe_cte_parts("f_")
    samp_parts = _bpe_cte_parts(
        "s_", _TOKS_SQL.replace("FROM documents", "FROM sample_docs")
    )
    return (
        "WITH "
        + ",\n".join([sample_ctes, *full_parts, *samp_parts])
        + f""",
f_merges AS ({_bpe_merges_union("f_")}),
s_merges AS ({_bpe_merges_union("s_")})
SELECT CAST(f.it AS INT) AS it,
       f.left_sym AS full_left, f.right_sym AS full_right,
       CAST(f.pair_freq AS BIGINT) AS full_freq,
       s.left_sym AS sample_left, s.right_sym AS sample_right,
       CAST(s.pair_freq AS BIGINT) AS sample_freq,
       CAST(f.left_sym = s.left_sym AND f.right_sym = s.right_sym
            AS INT) AS agree
FROM f_merges f JOIN s_merges s ON f.it = s.it
ORDER BY it
"""
    )


BPE_SAMPLED_TRAINING_SQL = _bpe_sampled_sql()


# ---------------- triangle counting on the co-occurrence graph


def token_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIANGLE COUNT + global clustering coefficient on the word
    co-occurrence graph (nodes = tokens, undirected edge when two
    tokens share a document) — the third leg of the graph-analytics
    tier next to connected components and PageRank.

    The plan is the degree-ordered 'forward' algorithm, the one that
    scales: every undirected edge is ORIENTED from its lower-(degree,
    name) endpoint to the higher, making the directed graph acyclic
    with out-degrees bounded by graph degeneracy; triangles are then
    (u→v) ⋈ (v→w) wedges semi-joined against (u→w). Each triangle is
    counted exactly once, and the wedge intermediate is
    Σ out-deg² under the orientation — far smaller than the naive
    Σ deg² when the degree distribution is skewed (the whole point:
    a celebrity node never fans out). Global clustering coefficient =
    3·triangles / open+closed wedges (Σ deg·(deg−1)/2).

    Nodes are word BIGRAMS and edges are adjacency (two bigrams
    overlapping in a trigram), not whole-document co-occurrence — the
    fixture corpus draws from a ~31-word vocabulary, so both document
    co-occurrence and unigram adjacency saturate into a near-complete
    graph (clustering coefficient ≈ 1.0, a degenerate fixture); the
    bigram graph (~900 nodes, cc ≈ 0.04-0.06) has real structure to
    measure. Everything is integer until the final coefficient
    (rounded 6 dp), so the oracle (same orientation, same joins)
    matches exactly.
    Reference parity: none — graph tier of the LLM-pipeline surface."""
    d = _docs(spark, sf_dir)
    pairs = (
        d.select(TX.tokenize("text").alias("tks"))
        .select(
            F.expr(
                "zip_with(slice(tks, 1, size(tks)-1), "
                "slice(tks, 2, size(tks)-1), "
                "(x, y) -> concat(x, ' ', y))"
            ).alias("bs")
        )
        .select(
            F.explode(
                F.expr(
                    "zip_with(slice(bs, 1, size(bs)-1), "
                    "slice(bs, 2, size(bs)-1), "
                    "(x, y) -> struct(x AS x, y AS y))"
                )
            ).alias("p")
        )
        .filter(
            (F.col("p.x") != "")
            & (F.col("p.y") != "")
            & (F.col("p.x") != F.col("p.y"))
        )
        .select(
            F.least("p.x", "p.y").alias("a"),
            F.greatest("p.x", "p.y").alias("b"),
        )
        .distinct()
    )
    return triangle_stats(pairs)


def triangle_stats(pairs: DataFrame) -> DataFrame:
    """Degree-ordered forward triangle counting over a canonical
    (a < b) undirected edge frame — factored out of
    `token_triangle_count` so the algorithm is testable on arbitrary
    graphs (tests/test_round9.py checks it against naive O(n^3)
    enumeration on seeded random graphs)."""
    from myserver_datawarehouse_spark.session import materialize

    edges = materialize(pairs)  # canonical a < b, shared 4 ways below
    deg = (
        edges.select(F.col("a").alias("t"))
        .unionByName(edges.select(F.col("b").alias("t")))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("t").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("t").alias("b"), F.col("deg").alias("db"))
    fwd = F.col("da") < F.col("db")  # ties: a < b already canonical
    tie = (F.col("da") == F.col("db"))
    oriented = (
        edges.join(da, "a")
        .join(db, "b")
        .select(
            F.when(fwd | tie, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(fwd | tie, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    oriented = materialize(oriented)
    e2 = oriented.select(
        F.col("u").alias("v"), F.col("v").alias("w")
    )
    e3 = oriented.select(
        F.col("u").alias("u2"), F.col("v").alias("w2")
    )
    tri = (
        oriented.join(e2, "v")
        .join(
            e3,
            (F.col("u") == F.col("u2")) & (F.col("w") == F.col("w2")),
            "left_semi",
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    counts = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    nodes = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(
            (F.col("deg") * (F.col("deg") - 1) / 2).cast("bigint")
        ).alias("n_wedges"),
    )
    return (
        nodes.crossJoin(F.broadcast(counts))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                3.0 * F.col("n_triangles") / F.col("n_wedges"), 6
            ).alias("global_cc"),
        )
    )


TOKEN_TRIANGLE_COUNT_SQL = f"""
WITH tk0 AS ({_TOKS_SQL}),
bg AS (
  SELECT [tks[j] || ' ' || tks[j + 1]
          FOR j IN generate_series(1, len(tks) - 1)] AS bs
  FROM tk0
),
bi AS (
  SELECT u.x AS x, u.y AS y
  FROM bg,
       UNNEST([{{'x': bs[j], 'y': bs[j + 1]}}
               FOR j IN generate_series(1, len(bs) - 1)]) AS t(u)
),
edges AS (
  SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
  FROM bi WHERE x <> '' AND y <> '' AND x <> y
),
deg AS (
  SELECT t, COUNT(*) AS deg
  FROM (SELECT a AS t FROM edges UNION ALL SELECT b FROM edges)
  GROUP BY 1
),
oriented AS (
  SELECT CASE WHEN da.deg <= db.deg THEN e.a ELSE e.b END AS u,
         CASE WHEN da.deg <= db.deg THEN e.b ELSE e.a END AS v
  FROM edges e
  JOIN deg da ON da.t = e.a
  JOIN deg db ON db.t = e.b
),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM oriented e1
  JOIN oriented e2 ON e2.u = e1.v
  WHERE EXISTS (SELECT 1 FROM oriented e3
                WHERE e3.u = e1.u AND e3.v = e2.v)
),
nn AS (
  SELECT COUNT(*) AS n_nodes,
         CAST(SUM(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges
  FROM deg
),
ne AS (SELECT COUNT(*) AS n_edges FROM edges)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       ROUND(3.0 * n_triangles / n_wedges, 6) AS global_cc
FROM nn CROSS JOIN ne CROSS JOIN tri
"""


# --------------------- hybrid retrieval: reciprocal-rank fusion

RRF_K = 60
RRF_TOPK = 5


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval via RECIPROCAL-RANK FUSION: the BM25 ranking
    and an independent TF-IDF/length-normalized ranking are fused per
    query as Σ 1/({k} + rank) over the lists a document appears in —
    the standard way production search blends rankers with
    incomparable score scales (RRF needs only ranks, so it composes
    lexical, vector and rule tiers without calibration).

    Both input rankings are the engine's own deterministic retrieval
    tier (decimal folds, 12-dp rounding, id tie-breaks); the fused
    score is a fixed-order two-term double sum rounded to 8 dp, so
    the oracle reproduces the exact fusion: a rank drift in EITHER
    input ranking reorders the fused top-{tk} and flips the hash.
    `src` discloses which lists each hit came from.

    Scale: two bounded per-query top-k lists joined full-outer on
    (query, doc) — fusion cost is O(queries × k), independent of the
    corpus; the rankers themselves are the posting-list plans
    documented on bm25_search."""
    bm = bm25_search(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rank").alias("r_bm")
    )
    d = _docs(spark, sf_dir)
    terms = _values_df(
        spark,
        [(qid, t) for qid, ts in SEARCH_QUERIES.items() for t in ts],
        "query_id, term",
    )
    toks = d.select(
        "doc_id", F.explode(TX.tokenize("text")).alias("term")
    ).filter(F.col("term") != "")
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    n_docs = dl.agg(F.count(F.lit(1)).alias("n_docs"))
    tf = (
        toks.join(F.broadcast(terms.select("term").distinct()), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(terms), "term")
        .join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "query_id",
            "doc_id",
            "dl",
            F.round(
                F.round(
                    F.log(
                        (F.col("n_docs") + 1.0) / (F.col("df") + 1.0)
                    ),
                    12,
                )
                * F.col("tf"),
                12,
            )
            .cast("decimal(28,14)")
            .alias("part"),
        )
        .groupBy("query_id", "doc_id", "dl")
        .agg(
            F.round(
                F.sum("part").cast("double") / F.sqrt(F.col("dl")), 6
            ).alias("score")
        )
    )
    w_tf = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    tfidf = (
        scored.withColumn("r_tf", F.row_number().over(w_tf))
        .filter(F.col("r_tf") <= BM25_TOPK)
        .select("query_id", "doc_id", "r_tf")
    )
    fused = bm.join(tfidf, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        F.round(
            F.coalesce(1.0 / (F.lit(RRF_K) + F.col("r_bm")), F.lit(0.0))
            + F.coalesce(
                1.0 / (F.lit(RRF_K) + F.col("r_tf")), F.lit(0.0)
            ),
            8,
        ).alias("rrf_score"),
        F.when(
            F.col("r_bm").isNotNull() & F.col("r_tf").isNotNull(),
            F.lit("both"),
        )
        .when(F.col("r_bm").isNotNull(), F.lit("bm25"))
        .otherwise(F.lit("tfidf"))
        .alias("src"),
    )
    w_f = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("pos", F.row_number().over(w_f))
        .filter(F.col("pos") <= RRF_TOPK)
        .select("query_id", "pos", "doc_id", "rrf_score", "src")
        .orderBy("query_id", "pos")
    )


hybrid_search_rrf.__doc__ = hybrid_search_rrf.__doc__.format(
    k=RRF_K, tk=RRF_TOPK
)


def _rrf_sql() -> str:
    return f"""
WITH bm AS (
  SELECT query_id, doc_id, rank AS r_bm FROM ({BM25_SEARCH_SQL}) b
),
toks0 AS ({_TOKS_SQL}),
tk2 AS (
  SELECT doc_id, t AS term
  FROM (SELECT doc_id, unnest(tks) AS t FROM toks0)
  WHERE t <> ''
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tk2 GROUP BY 1),
nd AS (SELECT COUNT(*) AS n_docs FROM dl),
qt AS ({{qterms}}),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM tk2 WHERE term IN (SELECT DISTINCT term FROM qt)
  GROUP BY 1, 2
),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
sc AS (
  SELECT qt.query_id, tf.doc_id,
         CAST(ROUND(CAST(SUM(CAST(ROUND(
             ROUND(ln((nd.n_docs + 1.0) / (dfq.df + 1.0)), 12) * tf.tf,
             12) AS DECIMAL(28,14))) AS DOUBLE) / sqrt(dl.dl), 6)
           AS DOUBLE) AS score
  FROM tf
  JOIN qt ON qt.term = tf.term
  JOIN dfq ON dfq.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN nd
  GROUP BY 1, 2, dl.dl
),
tfidf AS (
  SELECT query_id, doc_id, r_tf FROM (
    SELECT sc.*, row_number() OVER (
      PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS r_tf
    FROM sc)
  WHERE r_tf <= {BM25_TOPK}
),
fused AS (
  SELECT COALESCE(bm.query_id, t.query_id) AS query_id,
         COALESCE(bm.doc_id, t.doc_id) AS doc_id,
         ROUND(COALESCE(1.0 / ({RRF_K} + bm.r_bm), 0.0)
               + COALESCE(1.0 / ({RRF_K} + t.r_tf), 0.0), 8)
           AS rrf_score,
         CASE WHEN bm.r_bm IS NOT NULL AND t.r_tf IS NOT NULL
              THEN 'both'
              WHEN bm.r_bm IS NOT NULL THEN 'bm25'
              ELSE 'tfidf' END AS src
  FROM bm FULL OUTER JOIN tfidf t
    ON t.query_id = bm.query_id AND t.doc_id = bm.doc_id
)
SELECT query_id, pos, doc_id, rrf_score, src
FROM (
  SELECT fused.*, row_number() OVER (
    PARTITION BY query_id ORDER BY rrf_score DESC, doc_id ASC) AS pos
  FROM fused)
WHERE pos <= {RRF_TOPK}
ORDER BY query_id, pos
"""


def _qterms_sql() -> str:
    return "\nUNION ALL\n".join(
        f"SELECT '{qid}' AS query_id, t AS term "
        f"FROM unnest([{', '.join(repr(t) for t in ts)}]) AS u(t)"
        for qid, ts in sorted(SEARCH_QUERIES.items())
    )


HYBRID_SEARCH_RRF_SQL = _rrf_sql().format(qterms=_qterms_sql())


# ------------------------- prefix-filtered exact similarity join (PPJoin)


def near_dup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT thresholded Jaccard self-join over the FULL corpus via
    prefix filtering (the SSJoin/PPJoin candidate rule) — the
    no-false-negative alternative to LSH when the contract is "every
    pair >= tau, guaranteed".

    Candidate rule: order every doc's shingle hashes by a single global
    order (document frequency ascending, hash as tie-break — rarest
    first) and keep only the first n - ceil(tau*n) + 1 as the doc's
    PREFIX. If J(a,b) >= tau then |a ∩ b| >= ceil(tau*max(na,nb)), and
    two sorted sets overlapping that much must collide inside these
    prefixes — so an equi-join on prefix tokens alone finds every
    qualifying pair (Bayardo et al. WWW'07; Xiao et al. WWW'08).

    Why this scales where the full token join does not: the join key
    space is the RAREST ~half of each doc's shingles, so hot shingles
    (df in the thousands, cost df^2 rows in `ngram_jaccard_pairs`'s
    intersection join) never become join keys; candidate volume is
    bounded by rare-token collisions. Verification then touches only
    candidate pairs: sorted hash arrays meet in `array_intersect`
    (JVM set-intersect on longs). Output == the exact all-pairs oracle,
    unsampled — the one O(n^2)-free EXACT join in the dedup tier.
    """
    d = _docs(spark, sf_dir)
    return _prefix_filter_pairs(d).orderBy("doc_a", "doc_b")


def _prefix_filter_pairs(d: DataFrame, hs: DataFrame | None = None) -> DataFrame:
    """The PPJoin pair plan over any (doc_id, text) frame; pass `hs`
    (the materialized distinct shingle-hash frame) to share it with
    the LSH tier inside lsh_recall_audit. Default builds it —
    plan-identical to the pre-round-11 inline form."""
    # The prefix frame and the per-doc hash arrays each consume h on
    # BOTH sides of their joins — the shared materialized frame keeps
    # the df join + ranking window to one shingle pass.
    h = hs if hs is not None else _shingle_hash_frame(d)
    # NOTE (r14, measured and rejected): deriving `sizes` as a
    # projection of the materialized `sets` frame below (sets already
    # aggregates the same n) removes this groupBy from the plan but
    # made the query ~1 s SLOWER at sf0.1 — the broadcast build then
    # scans the checkpointed per-doc ARRAY blocks to project two
    # columns, where this pass scans only the narrow (doc_id, h) rows.
    sizes = h.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    df_tok = h.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    pos = F.row_number().over(
        Window.partitionBy("doc_id").orderBy("df", "h")
    )
    # materialize: the prefix frame feeds BOTH sides of the self-join —
    # without the cut each side re-runs the df join + per-doc ranking
    # window over the full shingle table (the query's dominant sort).
    pref = materialize(
        h.join(df_tok, "h")
        .select("doc_id", "h", "df", pos.alias("pos"))
        .join(F.broadcast(sizes), "doc_id")
        .filter(
            F.col("pos")
            <= F.col("n") - F.ceil(F.lit(JACCARD_TAU) * F.col("n")) + 1
        )
        .select("doc_id", "h")
    )
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # materialize: the per-doc sorted hash arrays join the candidate
    # pairs on BOTH key columns — one aggregation instead of two.
    sets = materialize(
        h.groupBy("doc_id").agg(
            F.sort_array(F.collect_list("h")).alias("hs"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    verified = (
        cand.join(
            sets.select(
                F.col("doc_id").alias("doc_a"),
                F.col("hs").alias("hs_a"),
                F.col("n").alias("na"),
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_b"),
                F.col("hs").alias("hs_b"),
                F.col("n").alias("nb"),
            ),
            "doc_b",
        )
        .withColumn(
            "inter", F.size(F.array_intersect("hs_a", "hs_b"))
        )
    )
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    ).cast("double")
    return verified.select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= JACCARD_TAU)


NEAR_DUP_PREFIX_FILTER_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
sh AS (
  SELECT doc_id, list_distinct({_SH_POS_SQL}) AS sh FROM toks
),
mh AS (
  SELECT doc_id, list_distinct([{_d_hash60('x')} FOR x IN sh]) AS mh,
         len(list_distinct([{_d_hash60('x')} FOR x IN sh])) AS n
  FROM sh
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         ROUND(CAST(len(list_intersect(a.mh, b.mh)) AS DOUBLE)
               / CAST(a.n + b.n - len(list_intersect(a.mh, b.mh)) AS DOUBLE),
               6) AS jaccard
  FROM mh a JOIN mh b
    ON a.doc_id < b.doc_id
   AND CAST(least(a.n, b.n) AS DOUBLE) >= {JACCARD_TAU} * greatest(a.n, b.n)
)
WHERE jaccard >= {JACCARD_TAU}
ORDER BY doc_a, doc_b
"""


# ----------------------- trained Naive Bayes language identification

NB_LOG_DP = 12  # per-term log rounding before exact decimal accumulation


def naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED language ID: multinomial Naive Bayes with Laplace
    smoothing, fit on the even-doc_id half, scored on the odd half,
    reported as a confusion matrix — the supervised upgrade of the
    marker-list heuristic (`lang_id_confusion`), trained and applied
    entirely as dataflow.

    The smoothed per-class score factors into sparse + dense parts:
      score(d, l) = ln P(l) + sum_{t in d} ln(c_tl + 1)
                    - |d ∩ vocab| * ln(n_l + V)
    Absent (t, l) pairs contribute ln(0 + 1) = 0, so ONLY the sparse
    nonzero (token, lang) count table is ever materialized or joined —
    no vocab x langs densification. Every ln is rounded to NB_LOG_DP
    (12) dp and cast to decimal BEFORE accumulation (the engine's float
    policy: exact, partition-order-free sums; argmax compares decimals
    with lang as tie-break).

    Scale: train counts are one (token, lang) groupBy (vocab-bounded);
    scoring joins test tokens to that sparse table and rolls up per
    (doc, lang) — both shuffles keyed on token/doc, never on the
    corpus cross langs.
    """
    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id", "lang", F.explode(TX.tokenize("text")).alias("t")
    ).filter(F.col("t") != "")
    train = tok.filter(F.col("doc_id") % 2 == 0)
    test = tok.filter(F.col("doc_id") % 2 == 1)

    counts = train.groupBy("lang", "t").agg(F.count(F.lit(1)).alias("c"))
    vocab = counts.select("t").distinct()
    v_size = vocab.agg(F.count(F.lit(1)).alias("v"))
    class_tot = counts.groupBy("lang").agg(F.sum("c").alias("n_l"))
    dec = f"decimal(28,{NB_LOG_DP})"
    lnc1 = counts.select(
        "lang", "t", F.round(F.log(F.col("c") + 1), NB_LOG_DP).cast(dec).alias("lnc1")
    )
    priors_raw = (
        train.select("doc_id", "lang")
        .distinct()
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("nd"))
    )
    n_train_docs = priors_raw.agg(F.sum("nd").alias("ndt"))
    model_cls = (
        class_tot.join(F.broadcast(priors_raw), "lang")
        .crossJoin(F.broadcast(n_train_docs))
        .crossJoin(F.broadcast(v_size))
        .select(
            "lang",
            F.round(F.log(F.col("nd") / F.col("ndt")), NB_LOG_DP)
            .cast(dec)
            .alias("lnprior"),
            F.round(F.log(F.col("n_l") + F.col("v")), NB_LOG_DP)
            .cast(dec)
            .alias("lnden"),
        )
    )

    in_vocab = test.join(vocab, "t").select(
        "doc_id", F.col("lang").alias("lang_true"), "t"
    )
    m = in_vocab.groupBy("doc_id", "lang_true").agg(
        F.count(F.lit(1)).alias("m")
    )
    # Test docs with ZERO in-vocab tokens still get a prediction (the
    # prior argmax): build the skeleton from all test docs.
    docs_test = test.select(
        "doc_id", F.col("lang").alias("lang_true")
    ).distinct()
    skel = docs_test.crossJoin(F.broadcast(model_cls.select("lang")))
    s1 = (
        in_vocab.join(
            lnc1.withColumnRenamed("lang", "lang_m"), "t"
        )
        .groupBy("doc_id", F.col("lang_m").alias("lang"))
        .agg(F.sum("lnc1").alias("s1"))
    )
    scored = (
        skel.join(s1, ["doc_id", "lang"], "left")
        .join(m.select("doc_id", "m"), "doc_id", "left")
        .join(F.broadcast(model_cls), "lang")
        .select(
            "doc_id",
            "lang_true",
            "lang",
            (
                F.col("lnprior")
                + F.coalesce(F.col("s1"), F.lit(0).cast(dec))
                - F.coalesce(F.col("m"), F.lit(0)) * F.col("lnden")
            ).alias("score"),
        )
    )
    pred = (
        scored.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.desc("score"), F.asc("lang")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("lang_true", F.col("lang").alias("lang_pred"))
    )
    return (
        pred.groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang_true", "lang_pred")
    )


NAIVE_BAYES_LANGID_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
tok AS (
  SELECT doc_id, lang, t
  FROM (SELECT doc_id, lang, unnest(tks) AS t FROM toks)
  WHERE t <> ''
),
train AS (SELECT * FROM tok WHERE doc_id % 2 = 0),
test AS (SELECT * FROM tok WHERE doc_id % 2 = 1),
counts AS (SELECT lang, t, COUNT(*) AS c FROM train GROUP BY 1, 2),
vocab AS (SELECT DISTINCT t FROM counts),
v_size AS (SELECT COUNT(*) AS v FROM vocab),
class_tot AS (SELECT lang, SUM(c) AS n_l FROM counts GROUP BY 1),
lnc1 AS (
  SELECT lang, t,
         CAST(ROUND(ln(c + 1), {NB_LOG_DP}) AS DECIMAL(28,{NB_LOG_DP})) AS lnc1
  FROM counts
),
priors_raw AS (
  SELECT lang, COUNT(DISTINCT doc_id) AS nd FROM train GROUP BY 1
),
n_train_docs AS (SELECT SUM(nd) AS ndt FROM priors_raw),
model_cls AS (
  SELECT c.lang,
         CAST(ROUND(ln(CAST(p.nd AS DOUBLE) / n.ndt), {NB_LOG_DP})
              AS DECIMAL(28,{NB_LOG_DP})) AS lnprior,
         CAST(ROUND(ln(CAST(c.n_l + v.v AS DOUBLE)), {NB_LOG_DP})
              AS DECIMAL(28,{NB_LOG_DP})) AS lnden
  FROM class_tot c
  CROSS JOIN n_train_docs n CROSS JOIN v_size v
  JOIN priors_raw p ON p.lang = c.lang
),
in_vocab AS (
  SELECT doc_id, test.lang AS lang_true, t
  FROM test JOIN vocab USING (t)
),
m AS (
  SELECT doc_id, lang_true, COUNT(*) AS m
  FROM in_vocab GROUP BY 1, 2
),
docs_test AS (SELECT DISTINCT doc_id, lang AS lang_true FROM test),
skel AS (
  SELECT d.doc_id, d.lang_true, mc.lang
  FROM docs_test d CROSS JOIN (SELECT lang FROM model_cls) mc
),
s1 AS (
  SELECT iv.doc_id, l.lang, SUM(l.lnc1) AS s1
  FROM in_vocab iv JOIN lnc1 l USING (t)
  GROUP BY 1, 2
),
scored AS (
  SELECT skel.doc_id, skel.lang_true, skel.lang,
         mc.lnprior
         + COALESCE(s1.s1, 0)
         - COALESCE(m.m, 0) * mc.lnden AS score
  FROM skel
  LEFT JOIN s1 ON s1.doc_id = skel.doc_id AND s1.lang = skel.lang
  LEFT JOIN m ON m.doc_id = skel.doc_id
  JOIN model_cls mc ON mc.lang = skel.lang
),
pred AS (
  SELECT lang_true, lang AS lang_pred
  FROM (
    SELECT scored.*, ROW_NUMBER() OVER (
      PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn
    FROM scored)
  WHERE rn = 1
)
SELECT lang_true, lang_pred, COUNT(*) AS n_docs
FROM pred GROUP BY 1, 2
ORDER BY lang_true, lang_pred
"""


# ------------------------------------------------ LSH recall audit

J_BAND_W = 10  # jaccard decile banding for the recall curve


LSH_VARIANT_OFFSET = 20_000_000  # past every real doc_id at every SF
LSH_VARIANT_EVERY = 5  # doc_id % 5 == 2 docs get a truncation variant
LSH_VARIANT_MIN_LEN = 150
LSH_VARIANT_FRACS = (0.55, 0.65, 0.75, 0.85)  # prefix kept, by id slot


def _lsh_audit_docs(d: DataFrame) -> DataFrame:
    """The audit's corpus: documents PLUS one deterministic TRUNCATION
    variant per eligible doc (the ann_nprobe_clustered derive-the-
    fixture-in-plan pattern, no rand()): variant text = the first
    frac(doc_id) of the doc's characters, frac cycling through
    LSH_VARIANT_FRACS by doc_id slot. A truncation's shingle set is
    (near-)contained in its base's, so true J(base, variant) ~= frac —
    placing guaranteed pair mass in the 0.5-0.8 deciles where the LSH
    S-curve bends (the raw fixture's near-dups are all J >= 0.8). The
    oracle derives the identical variants."""
    fidx = F.floor((F.col("doc_id") % 20) / F.lit(5.0)).cast("int")
    frac = F.element_at(
        F.array(*[F.lit(x) for x in LSH_VARIANT_FRACS]), fidx + 1
    )
    variants = d.filter(
        (F.col("doc_id") % LSH_VARIANT_EVERY == 2)
        & (F.length("text") >= LSH_VARIANT_MIN_LEN)
    ).select(
        (F.col("doc_id") + F.lit(LSH_VARIANT_OFFSET)).alias("doc_id"),
        F.substring(
            "text",
            F.lit(1),
            F.floor(F.length("text") * frac).cast("int"),
        ).alias("text"),
    )
    return d.select("doc_id", "text").unionAll(variants)


def lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECALL of MinHash-LSH against exact ground truth, banded by true
    Jaccard — the sketch-tier audit pattern (adjudicate the ACCURACY
    CLAIM) applied to the dedup tier's probabilistic member. The exact
    yardstick is `near_dup_prefix_filter` (perfect recall >= tau by the
    prefix-filtering theorem — the one exact O(n^2)-free join in the
    tier); the measured system is `near_dup_minhash_lsh`. Both verify
    candidates with the IDENTICAL exact-Jaccard computation and
    threshold, so LSH pairs are a SUBSET of the exact set and the per
    Jaccard-decile hit ratio is exactly the banding's candidate recall
    P(candidate | J) — the S-curve (1-(1-J^r)^b for r=2, b=8) every
    LSH deployment tunes against, here adjudicated as data instead of
    assumed from theory. A banding bug (hash drift, band-key collision
    loss) drops pairs from a decile and flips the hash.

    The raw fixture's near-dups are all small edits (J >= 0.8), which
    left the curve's BEND unexercised through round 11 (the disclosed
    gap). The audit corpus therefore adds deterministic truncation
    variants (_lsh_audit_docs) placing pair mass across the 0.5-0.8
    deciles: measured recall there must track 1-(1-J^2)^8 (~0.90 at
    J=0.5 rising to ~1 by J=0.8) within binomial noise — the
    regression gate tests/test_round12.py pins against theory with a
    disclosed tolerance, while THIS query adjudicates the measured
    counts bit-for-bit against the oracle's identical recomputation.

    Scale: the audit's cost is its two ingredient plans (both banded /
    prefix-bounded, never all-pairs — see their docstrings) over a
    corpus ~20% larger than documents; the comparison itself is
    pair-set-sized. Run it after any change to the shingle, signature,
    or banding code — it is the regression gate for the tier's
    probabilistic contract. Both tiers read ONE shared materialized
    shingle-hash frame (the table a production dedup stack persists
    once and feeds to every member), so the audit costs the two pair
    plans minus the duplicated shingle pass."""
    d = _lsh_audit_docs(_docs(spark, sf_dir))
    hs = _shingle_hash_frame(d)
    exact = _prefix_filter_pairs(d, hs=hs)
    # The LSH side contributes only its CANDIDATE set: the semi-join
    # against `exact` IS the tau threshold (every exact pair has
    # jaccard >= tau and the LSH verify computes the identical rounded
    # jaccard, so exact ∩ verified(cand) == exact ∩ cand — see
    # _minhash_band_candidates). Skipping the redundant per-candidate
    # verify removes two hash-equi-joins over hs plus a pair-sized
    # aggregation from the plan (r14; the band_tuning sweep has used
    # this shape per config since round 13).
    lsh, _ = _minhash_band_candidates(hs)
    hit = exact.join(lsh, ["doc_a", "doc_b"], "left_semi")
    band = F.floor(F.col("jaccard") * J_BAND_W).cast("int").alias("j_band")
    eb = exact.groupBy(band).agg(F.count(F.lit(1)).alias("n_exact"))
    hb = hit.groupBy(band).agg(F.count(F.lit(1)).alias("n_lsh"))
    return (
        eb.join(hb, "j_band", "left")
        .select(
            "j_band",
            "n_exact",
            F.coalesce(F.col("n_lsh"), F.lit(0)).alias("n_lsh"),
            F.round(
                F.coalesce(F.col("n_lsh"), F.lit(0)).cast("double")
                / F.col("n_exact"),
                4,
            ).alias("recall"),
        )
        .orderBy("j_band")
    )


# The audit corpus CTE: documents + the deterministic truncation
# variants (_lsh_audit_docs' SQL twin). The ingredient pair SQLs are
# retargeted at it by substituting their one `FROM documents` source —
# a template transformation, so both tiers' oracles stay single-sourced.
_LSH_AUDIT_DOCS_SQL = f"""
  SELECT doc_id, lang, source, text FROM documents
  UNION ALL
  SELECT doc_id + {LSH_VARIANT_OFFSET} AS doc_id, lang, source,
         substring(text, 1, CAST(FLOOR(length(text) *
           CASE CAST(FLOOR((doc_id % 20) / 5.0) AS INT)
                WHEN 0 THEN {LSH_VARIANT_FRACS[0]}
                WHEN 1 THEN {LSH_VARIANT_FRACS[1]}
                WHEN 2 THEN {LSH_VARIANT_FRACS[2]}
                ELSE {LSH_VARIANT_FRACS[3]} END) AS INT)) AS text
  FROM documents
  WHERE doc_id % {LSH_VARIANT_EVERY} = 2
    AND length(text) >= {LSH_VARIANT_MIN_LEN}
"""

LSH_RECALL_AUDIT_SQL = f"""
WITH docs_aug AS ({_LSH_AUDIT_DOCS_SQL}),
exact AS ({NEAR_DUP_PREFIX_FILTER_SQL.replace("FROM documents", "FROM docs_aug")}),
lsh AS ({NEAR_DUP_MINHASH_LSH_SQL.replace("FROM documents", "FROM docs_aug")}),
hit AS (
  SELECT e.jaccard
  FROM exact e JOIN lsh l ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b
),
eb AS (
  SELECT CAST(FLOOR(jaccard * {J_BAND_W}) AS INT) AS j_band,
         COUNT(*) AS n_exact
  FROM exact GROUP BY 1
),
hb AS (
  SELECT CAST(FLOOR(jaccard * {J_BAND_W}) AS INT) AS j_band,
         COUNT(*) AS n_lsh
  FROM hit GROUP BY 1
)
SELECT eb.j_band AS j_band, eb.n_exact AS n_exact,
       COALESCE(hb.n_lsh, 0) AS n_lsh,
       ROUND(CAST(COALESCE(hb.n_lsh, 0) AS DOUBLE) / eb.n_exact, 4)
         AS recall
FROM eb LEFT JOIN hb ON eb.j_band = hb.j_band
ORDER BY 1
"""


# ------------------------------------------- tokenizer fertility

def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY (tokens emitted per word) by language under
    the trained BPE merge table — the per-language cost metric every
    multilingual tokenizer evaluation reports (a lang whose words the
    merges never cover pays more tokens per word, i.e. more sequence
    length per unit of text). Reuses the shared training loop
    (_bpe_train: corpus touched once, merges trained corpus-wide) and
    joins the final per-word segmentations onto per-(lang, word)
    occurrence counts: fertility(lang) = sum(cnt * |segments(word)|)
    / sum(cnt).

    Scale: the lang-word count is the corpus's one extra pass (same
    tokenize explode as the training's word table, plus the lang key);
    the join runs vocabulary-sized x |langs|. The fertility numbers
    adjudicate the train->apply contract from a THIRD angle (after the
    merge table and the corpus-wide token rollup): any drift in the
    greedy rewrite changes some word's segment count and moves a
    language's weighted mean."""
    words, _ = _bpe_train(spark, sf_dir)
    d = _docs(spark, sf_dir)
    lw = (
        d.select("lang", F.explode(TX.tokenize("text")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("cnt_lw"))
    )
    seg = words.select("w", F.size("s").alias("n_seg"))
    return (
        lw.join(seg, "w")
        .groupBy("lang")
        .agg(
            F.sum("cnt_lw").alias("n_words"),
            F.sum(F.col("cnt_lw") * F.col("n_seg")).alias("n_tokens"),
            F.round(
                F.sum(F.col("cnt_lw") * F.col("n_seg")).cast("double")
                / F.sum("cnt_lw"),
                6,
            ).alias("fertility"),
        )
        .orderBy("lang")
    )


def _bpe_fertility_sql() -> str:
    parts = _bpe_cte_parts()
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
lw AS (
  SELECT lang, t AS w, COUNT(*) AS cnt_lw
  FROM (SELECT lang, unnest(tks) AS t FROM tk0)
  WHERE t <> '' GROUP BY 1, 2
)
SELECT lang,
       CAST(SUM(cnt_lw) AS BIGINT) AS n_words,
       CAST(SUM(cnt_lw * len(s)) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(cnt_lw * len(s)) AS DOUBLE) / SUM(cnt_lw), 6)
         AS fertility
FROM lw JOIN w{BPE_ITERS} USING (w)
GROUP BY lang
ORDER BY lang
"""
    )


BPE_FERTILITY_BY_LANG_SQL = _bpe_fertility_sql()


# ------------------------------------- temperature-resampled language mix

# Alpha-temperature sampling (Lample & Conneau 2019; XLM-R; every
# multilingual LLM data recipe since): sample language l with probability
# proportional to (its token share)^alpha, alpha < 1, so low-resource
# languages are upsampled relative to their raw share without flattening
# the mixture entirely.  `data_mixture_rebalance` is the alpha=0
# (equal-mixture) endpoint of this dial; this query is the tunable
# middle.  alpha = 0.5 here, computed as sqrt() — IEEE-exact in both
# engines, so the contract stays hash-tight without a float-pow epsilon.
MIX_TEMPERATURE_ALPHA = 0.5  # via sqrt(); the knob the recipe tunes


def temperature_resampled_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language temperature-resampled mixture table: raw token share
    p_raw, temperature share p_temp ∝ lang_tokens^{MIX_TEMPERATURE_ALPHA},
    the resulting upsample factor (p_temp / p_raw — >1 means the language
    is repeated, the low-resource boost), and the expected token budget
    per language under the resampled mix.

    Plan shape (100 TB): one corpus pass for per-language token totals
    (map-side partial agg to a |langs|-row frame), then a broadcast of
    the 1-row global sums — no global window, no second corpus pass (the
    totals can ride a standing stats table).  Determinism: the cross-lang
    sums accumulate in DECIMAL over 9-dp-rounded sqrt weights
    (partition-order independent); shares divide those exact decimals as
    doubles.
    """
    d = _docs(spark, sf_dir)
    dec = "decimal(38,12)"
    totals = (
        d.select(
            "lang",
            F.size(TX.tokenize("text")).cast("long").alias("n_tok"),
        )
        .groupBy("lang")
        .agg(F.sum("n_tok").alias("lang_tokens"))
        .select(
            "lang",
            "lang_tokens",
            F.round(F.sqrt(F.col("lang_tokens").cast("double")), 9)
            .cast(dec)
            .alias("w"),
        )
    )
    g = totals.agg(
        F.sum("lang_tokens").alias("total_tokens"),
        F.sum("w").alias("sum_w"),
    )
    return (
        totals.crossJoin(F.broadcast(g))
        .select(
            "lang",
            "lang_tokens",
            F.round(
                F.col("lang_tokens") / F.col("total_tokens").cast("double"), 6
            ).alias("p_raw"),
            F.round(
                F.col("w").cast("double") / F.col("sum_w").cast("double"), 6
            ).alias("p_temp"),
            F.round(
                (F.col("w").cast("double") / F.col("sum_w").cast("double"))
                / (F.col("lang_tokens") / F.col("total_tokens").cast("double")),
                6,
            ).alias("upsample_factor"),
            F.round(
                F.col("total_tokens").cast("double")
                * (F.col("w").cast("double") / F.col("sum_w").cast("double")),
                0,
            )
            .cast("long")
            .alias("expected_tokens"),
        )
        .orderBy("lang")
    )


TEMPERATURE_RESAMPLED_MIX_SQL = f"""
WITH per_doc AS (
  SELECT lang,
         CAST(len(string_split({_NORM_SQL}, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
tot AS (
  SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS lang_tokens,
         CAST(ROUND(sqrt(CAST(SUM(n_tok) AS DOUBLE)), 9)
              AS DECIMAL(38,12)) AS w
  FROM per_doc GROUP BY 1
),
g AS (
  SELECT CAST(SUM(lang_tokens) AS BIGINT) AS total_tokens,
         SUM(w) AS sum_w
  FROM tot
)
SELECT lang, lang_tokens,
       ROUND(lang_tokens / CAST(total_tokens AS DOUBLE), 6) AS p_raw,
       ROUND(CAST(w AS DOUBLE) / CAST(sum_w AS DOUBLE), 6) AS p_temp,
       ROUND((CAST(w AS DOUBLE) / CAST(sum_w AS DOUBLE))
             / (lang_tokens / CAST(total_tokens AS DOUBLE)), 6)
         AS upsample_factor,
       CAST(ROUND(CAST(total_tokens AS DOUBLE)
                  * (CAST(w AS DOUBLE) / CAST(sum_w AS DOUBLE)), 0)
            AS BIGINT) AS expected_tokens
FROM tot, g
ORDER BY lang
"""


# ------------------------------------ MinHash estimator-error audit


def _minhash_se_theory_rows() -> list[tuple[int, float]]:
    """(j_band, binomial stderr of the {MINHASH_N}-slot estimator at the
    decile midpoint) — computed ONCE in Python, fed to BOTH engines as
    literals (the band-tuning rule).  Covers j_band 0..J_BAND_W
    INCLUSIVE: exact-duplicate pairs land in FLOOR(1.0*W) = W, where
    the estimator is deterministic (se exactly 0) — the round-12
    advice lesson applied at authoring time, not after."""
    out = []
    for jb in range(J_BAND_W + 1):
        j = min((jb + 0.5) / J_BAND_W, 1.0)
        out.append((jb, round((j * (1.0 - j) / MINHASH_N) ** 0.5, 6)))
    return out


def minhash_estimator_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimation-error audit of the {MINHASH_N}-slot MinHash sketch:
    per true-Jaccard decile, the mean signature-agreement estimate
    (matching slots / {MINHASH_N}), the mean exact Jaccard, the mean
    absolute estimation error, and the binomial theory stderr
    sqrt(J(1-J)/{MINHASH_N}) at the decile midpoint — the sketch-tier
    audit pattern (adjudicate the ACCURACY CLAIM, cf.
    approx_distinct_audit / lsh_recall_audit) applied to the
    estimator the whole LSH tier is built on.  Each signature slot
    matches with probability exactly J, so the mean estimate must
    track mean exact Jaccard within ~the theory stderr; a hash-family
    or permutation-parameter bug biases the estimate and flips the
    hash.

    Corpus: the lsh_recall_audit truncation-variant corpus (pair mass
    across the 0.5-1.0 deciles); ground truth: the exact prefix-filter
    pair set with its exact Jaccard.  ONE shared shingle-hash frame
    feeds the exact tier AND the signature aggregate.  Exactness: the
    per-pair estimate k/{MINHASH_N} is a dyadic rational (exact in
    double), error terms ROUND(12) into DECIMAL accumulation, means
    ROUND(6); the theory column is a Python-computed literal in both
    engines."""
    d = _lsh_audit_docs(_docs(spark, sf_dir))
    hs = _shingle_hash_frame(d)
    exact = _prefix_filter_pairs(d, hs=hs)
    p = F.lit(TX.MINHASH_P)
    sig = (
        hs.groupBy("doc_id")
        .agg(
            *[
                F.min((F.lit(a) * (F.col("h") % p) + b) % p).alias(f"s{i}")
                for i, (a, b) in enumerate(TX.minhash_params(MINHASH_N))
            ]
        )
        .select(
            "doc_id",
            F.array(*[f"s{i}" for i in range(MINHASH_N)]).alias("sig"),
        )
    )
    pairs = (
        exact.join(
            sig.select(
                F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")
            ),
            "doc_a",
        )
        .join(
            sig.select(
                F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")
            ),
            "doc_b",
        )
        .select(
            "jaccard",
            (
                F.size(
                    F.filter(
                        F.zip_with(
                            "sig_a", "sig_b", lambda x, y: x == y
                        ),
                        lambda m: m,
                    )
                )
                / F.lit(float(MINHASH_N))
            ).alias("est"),
        )
    )
    dec = "decimal(28,14)"
    band = F.floor(F.col("jaccard") * J_BAND_W).cast("int").alias("j_band")
    theory = spark.createDataFrame(
        _minhash_se_theory_rows(), "j_band int, theory_se double"
    )
    return (
        pairs.groupBy(band)
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                F.sum(F.round(F.col("est"), 12).cast(dec)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_est"),
            F.round(
                F.sum(F.col("jaccard").cast(dec)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_exact"),
            F.round(
                F.sum(
                    F.round(
                        F.abs(F.col("est") - F.col("jaccard")), 12
                    ).cast(dec)
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_abs_err"),
        )
        .join(F.broadcast(theory), "j_band")
        .select(
            "j_band", "n_pairs", "mean_est", "mean_exact",
            "mean_abs_err", "theory_se",
        )
        .orderBy("j_band")
    )


def _minhash_estimator_audit_sql() -> str:
    theory_values = ", ".join(
        f"({jb}, {se!r})" for jb, se in _minhash_se_theory_rows()
    )
    match_sum = (
        "list_sum([CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END "
        f"FOR i IN generate_series(1, {MINHASH_N})])"
    )
    return f"""
WITH docs_aug AS ({_LSH_AUDIT_DOCS_SQL}),
exact AS (
  {NEAR_DUP_PREFIX_FILTER_SQL.replace("FROM documents", "FROM docs_aug")}
),
toks AS ({_TOKS_SQL.replace("FROM documents", "FROM docs_aug")}),
sh AS ({_SH_SQL}),
mhb AS (SELECT doc_id, {_MH_BASE_SQL} AS mh FROM sh),
sig AS (SELECT doc_id, {_MINHASH_SQL} AS sig FROM mhb),
pairs AS (
  SELECT e.jaccard,
         {match_sum} / {float(MINHASH_N)!r} AS est
  FROM exact e
  JOIN sig sa ON sa.doc_id = e.doc_a
  JOIN sig sb ON sb.doc_id = e.doc_b
),
theory(j_band, theory_se) AS (VALUES {theory_values}),
banded AS (
  SELECT CAST(FLOOR(jaccard * {J_BAND_W}) AS INT) AS j_band,
         jaccard, est
  FROM pairs
)
SELECT b.j_band,
       COUNT(*) AS n_pairs,
       ROUND(CAST(SUM(CAST(ROUND(est, 12) AS DECIMAL(28,14)))
                  AS DOUBLE) / COUNT(*), 6) AS mean_est,
       ROUND(CAST(SUM(CAST(jaccard AS DECIMAL(28,14)))
                  AS DOUBLE) / COUNT(*), 6) AS mean_exact,
       ROUND(CAST(SUM(CAST(ROUND(ABS(est - jaccard), 12)
                           AS DECIMAL(28,14)))
                  AS DOUBLE) / COUNT(*), 6) AS mean_abs_err,
       t.theory_se
FROM banded b JOIN theory t USING (j_band)
GROUP BY b.j_band, t.theory_se
ORDER BY b.j_band
"""


MINHASH_ESTIMATOR_AUDIT_SQL = _minhash_estimator_audit_sql()


# ------------------------------------ SimHash estimator-error audit

SIMHASH_AUDIT_MOD = 10  # deterministic 1/10 doc_id sample
C_BAND_W = 10  # cosine decile bands 0..10 (10 = exact-duplicate band)


def _simhash_agree_theory_rows() -> list[tuple[int, float, float]]:
    """(c_band, SRP theory bit-agreement 1 − arccos(c)/π at the decile
    midpoint, binomial stderr sqrt(p(1−p)/{TX.SIMHASH_BITS})) — computed
    ONCE in Python, fed to BOTH engines as literals so no transcendental
    (arccos) ever crosses engines. Covers c_band 0..{C_BAND_W}
    INCLUSIVE: exact-duplicate pairs land in FLOOR(1.0*W) = W, where
    agreement is deterministic (p=1, se=0) — the authoring-time
    exact-dup-band rule from the MinHash audit."""
    import math

    out = []
    for cb in range(C_BAND_W + 1):
        c = min((cb + 0.5) / C_BAND_W, 1.0)
        p = 1.0 - math.acos(c) / math.pi
        out.append(
            (
                cb,
                round(p, 6),
                round((p * (1.0 - p) / TX.SIMHASH_BITS) ** 0.5, 6),
            )
        )
    return out


def simhash_estimator_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimation-error audit of the {TX.SIMHASH_BITS}-bit SimHash
    sketch — the calibration proof `minhash_estimator_audit` gave the
    MinHash tier, applied to the OTHER sketch family the dedup tier is
    built on: per true-cosine decile (cosine between token-COUNT
    vectors, the exact vector space SimHash's ±1 votes project), the
    measured mean bit-agreement (1 − hamming/{TX.SIMHASH_BITS}) against
    the sign-random-projection theory rate 1 − θ/π (Charikar 2002, the
    rule `near_dup_simhash`'s chunk banding presumes), with the
    binomial theory stderr — both theory columns Python literals in
    both engines.

    Pair universe: all pairs of the deterministic doc_id %
    {SIMHASH_AUDIT_MOD} sample that share ≥1 token (a zero-overlap pair
    has cosine exactly 0 and agreement at the chance rate — nothing to
    calibrate). Exact cosine comes from an equi-join on the token hash
    (pair cost = one row per shared distinct token, the
    ngram_jaccard_pairs set-similarity-join shape — Σ posting² bounded
    by token hotness, never corpus²); signatures reuse the
    `near_dup_simhash` vote semantics (every occurrence votes, so the
    projected vector IS the count vector) computed from the same
    materialized (doc_id, h, n) frame. A production calibration job
    bounds the sample COUNT (hash-threshold sample), not the fraction;
    the plan is sample-size-bound. Exactness: dot/norms are integer
    folds (bit-identical across engines), agreement k/{TX.SIMHASH_BITS}
    and cosine ROUND(12) into DECIMAL accumulation, means ROUND(6)."""
    d = _docs(spark, sf_dir).filter(
        F.col("doc_id") % SIMHASH_AUDIT_MOD == 0
    )
    tc = materialize(
        d.select("doc_id", F.explode(TX.tokenize("text")).alias("t"))
        .select("doc_id", TX.hash60("t").alias("h"))
        .groupBy("doc_id", "h")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    nrm = tc.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("n") * F.col("n")).cast("double")).alias("nrm")
    )
    dot = (
        tc.alias("a")
        .join(
            tc.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.sum(F.col("a.n") * F.col("b.n")).alias("dot"))
    )
    votes = tc.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1,
                    F.col("n"),
                ).otherwise(-F.col("n"))
            ).alias(f"v{i}")
            for i in range(TX.SIMHASH_BITS)
        ]
    )
    bit_terms = [
        F.when(F.col(f"v{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        for i in range(TX.SIMHASH_BITS)
    ]
    total = bit_terms[0]
    for t in bit_terms[1:]:
        total = total + t
    sig = votes.select("doc_id", total.alias("simhash"))
    pairs = (
        dot.join(
            nrm.select(
                F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na")
            ),
            "doc_a",
        )
        .join(
            nrm.select(
                F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb")
            ),
            "doc_b",
        )
        .join(
            sig.select(
                F.col("doc_id").alias("doc_a"),
                F.col("simhash").alias("sig_a"),
            ),
            "doc_a",
        )
        .join(
            sig.select(
                F.col("doc_id").alias("doc_b"),
                F.col("simhash").alias("sig_b"),
            ),
            "doc_b",
        )
        .select(
            F.round(
                F.col("dot").cast("double") / (F.col("na") * F.col("nb")),
                12,
            ).alias("cos"),
            (
                (
                    F.lit(TX.SIMHASH_BITS)
                    - TX.hamming60(F.col("sig_a"), F.col("sig_b"))
                )
                / F.lit(float(TX.SIMHASH_BITS))
            ).alias("agree"),
        )
    )
    dec = "decimal(28,14)"
    band = F.floor(F.col("cos") * C_BAND_W).cast("int").alias("c_band")
    theory = spark.createDataFrame(
        _simhash_agree_theory_rows(),
        "c_band int, theory_agree double, theory_se double",
    )
    return (
        pairs.groupBy(band)
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                F.sum(F.col("cos").cast(dec)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_cos"),
            F.round(
                F.sum(F.round(F.col("agree"), 12).cast(dec)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_agree"),
        )
        .join(F.broadcast(theory), "c_band")
        .select(
            "c_band", "n_pairs", "mean_cos", "mean_agree",
            "theory_agree", "theory_se",
        )
        .orderBy("c_band")
    )


def _simhash_estimator_audit_sql() -> str:
    theory_values = ", ".join(
        f"({cb}, {p!r}, {se!r})"
        for cb, p, se in _simhash_agree_theory_rows()
    )
    return f"""
WITH sampled AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {SIMHASH_AUDIT_MOD} = 0
),
toks AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS tks FROM sampled
),
tc AS (
  SELECT doc_id, {_d_hash60("t")} AS h, COUNT(*) AS n
  FROM toks, UNNEST(tks) AS u(t)
  GROUP BY 1, 2
),
nrm AS (SELECT doc_id, sqrt(CAST(SUM(n * n) AS DOUBLE)) AS nrm
        FROM tc GROUP BY 1),
dotp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.n * b.n) AS dot
  FROM tc a JOIN tc b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
votes AS (
  SELECT doc_id, i,
         SUM(CASE WHEN ((h >> i) & 1) = 1 THEN n ELSE -n END) AS v
  FROM tc, UNNEST(generate_series(0, {TX.SIMHASH_BITS - 1})) AS g(i)
  GROUP BY 1, 2
),
sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << i)
                       ELSE 0::BIGINT END) AS BIGINT) AS simhash
  FROM votes GROUP BY 1
),
pairs AS (
  SELECT ROUND(CAST(d.dot AS DOUBLE) / (na.nrm * nb.nrm), 12) AS cos,
         ({TX.SIMHASH_BITS} - bit_count(xor(sa.simhash, sb.simhash)))
           / {float(TX.SIMHASH_BITS)!r} AS agree
  FROM dotp d
  JOIN nrm na ON na.doc_id = d.doc_a
  JOIN nrm nb ON nb.doc_id = d.doc_b
  JOIN sig sa ON sa.doc_id = d.doc_a
  JOIN sig sb ON sb.doc_id = d.doc_b
),
theory(c_band, theory_agree, theory_se) AS (VALUES {theory_values}),
banded AS (
  SELECT CAST(FLOOR(cos * {C_BAND_W}) AS INT) AS c_band,
         COUNT(*) AS n_pairs,
         ROUND(CAST(SUM(CAST(cos AS DECIMAL(28,14))) AS DOUBLE)
               / COUNT(*), 6) AS mean_cos,
         ROUND(CAST(SUM(CAST(ROUND(agree, 12) AS DECIMAL(28,14)))
                    AS DOUBLE) / COUNT(*), 6) AS mean_agree
  FROM pairs GROUP BY 1
)
SELECT b.c_band, b.n_pairs, b.mean_cos, b.mean_agree,
       t.theory_agree, t.theory_se
FROM banded b JOIN theory t USING (c_band)
ORDER BY c_band
"""


SIMHASH_ESTIMATOR_AUDIT_SQL = _simhash_estimator_audit_sql()


# --------------------------------- DSIR hashed n-gram importance weights

# Data Selection via Importance Resampling (Xie et al., NeurIPS 2023):
# the data-driven middle of the mixture dial this tier already has the
# endpoints of (data_mixture_rebalance = alpha-0 proportional,
# temperature_resampled_mix = alpha-temperature).  Hash unigrams+bigrams
# into K buckets, estimate the TARGET bucket distribution p (here: the
# 'en' slice — the Wikipedia-like domain the pretrain recipe
# upweights) and the RAW-corpus distribution q, weight every doc
# by its hashed-feature log-likelihood ratio sum_b n_b(x)(ln p_b - ln
# q_b), and take the top fraction as the resampled set.
DSIR_BUCKETS = 256
DSIR_ALPHA = 0.5  # Laplace smoothing (target buckets may be empty)
DSIR_TARGET_LANG = "en"
DSIR_SELECT_DENOM = 5  # resample budget = top 1/5 of docs by weight
_DSIR_SMOOTH_DENOM = DSIR_ALPHA * DSIR_BUCKETS  # 128.0, exact in double


def _dsir_docw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared DSIR weight construction: hashed n-gram (unigram+bigram,
    {DSIR_BUCKETS}-bucket) log importance weights toward the
    '{DSIR_TARGET_LANG}' target distribution. Returns one row per
    corpus document: (doc_id, source, logw DECIMAL(28,14)).

    ONE corpus pass explodes n-grams into the per-(doc, bucket) count
    frame, which is `materialize()`d and shared by its four consumers
    (raw bucket rollup, target bucket rollup, the two global totals,
    and the per-doc weighted sum) — per-doc state is bounded by
    K={DSIR_BUCKETS} buckets, the distribution frames are K rows, and
    lambda rides a broadcast join back onto the count frame.
    Determinism: ln smoothed ratios ROUND(12) per bucket, per-doc terms
    ROUND(12) then DECIMAL-accumulated (partition-order independent).
    Consumed by `dsir_importance_weights` (exact-spec global ranking)
    and `dsir_importance_weights_threshold` (the scale-safe
    histogram-cut twin).
    """
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", "lang", "source", TX.tokenize("text").alias("tks")
    )
    grams = toks.select(
        "doc_id",
        "lang",
        "source",
        F.explode(
            F.concat(
                F.col("tks"), TX.shingles("tks", k=2, distinct=False)
            )
        ).alias("g"),
    ).filter(F.col("g") != "")
    dbc = materialize(
        grams.select(
            "doc_id",
            "lang",
            "source",
            (TX.hash60("g") % F.lit(DSIR_BUCKETS)).cast("int").alias(
                "bucket"
            ),
        )
        .groupBy("doc_id", "lang", "source", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    raw = dbc.groupBy("bucket").agg(F.sum("n").alias("c_raw"))
    tgt = (
        dbc.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("bucket")
        .agg(F.sum("n").alias("c_tgt"))
    )
    tot = dbc.agg(
        F.sum("n").alias("tot_raw"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("n")).otherwise(
                F.lit(0)
            )
        ).alias("tot_tgt"),
    )
    lam = (
        raw.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.round(
                F.log(
                    (F.coalesce(F.col("c_tgt"), F.lit(0)) + F.lit(DSIR_ALPHA))
                    / (F.col("tot_tgt") + F.lit(_DSIR_SMOOTH_DENOM))
                )
                - F.log(
                    (F.col("c_raw") + F.lit(DSIR_ALPHA))
                    / (F.col("tot_raw") + F.lit(_DSIR_SMOOTH_DENOM))
                ),
                12,
            ).alias("lam"),
        )
    )
    dec = "decimal(28,14)"
    # LEFT join from the full docs table: a doc whose text normalizes
    # to zero n-grams has no dbc rows but is still a corpus member —
    # it carries logw exactly 0 and counts in n_docs and the selection
    # denominator (round-13 review finding; latent, no such doc in the
    # shipped fixtures).
    docw = (
        d.select("doc_id", "source")
        .join(
            dbc.join(F.broadcast(lam), "bucket")
            .groupBy("doc_id")
            .agg(
                F.sum(
                    F.round(F.col("n") * F.col("lam"), 12).cast(dec)
                ).alias("logw")
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "source",
            F.coalesce(F.col("logw"), F.lit(0).cast(dec)).alias("logw"),
        )
    )
    return docw


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance resampling audit: per-source resampling
    budget under hashed n-gram (unigram+bigram, {DSIR_BUCKETS}-bucket)
    importance weights toward the '{DSIR_TARGET_LANG}' target
    distribution — n_docs, mean log importance weight, docs selected
    into the global top-1/{DSIR_SELECT_DENOM} resample, and each
    source's share of that budget.

    Plan shape (100 TB): weight construction is the shared
    `_dsir_docw` pass (see its docstring — bounded per-doc state,
    broadcast lambda). The selection here is the EXACT-SPEC form — a
    global `row_number` window ordered by (logw desc, doc_id), which
    funnels every doc's (logw, doc_id) through one task and is the
    wrong shape at 100 TB; `dsir_importance_weights_threshold` is the
    adjudicated scale-safe twin (6-dp histogram cut + boundary-bucket
    tie-scan, identical output) — the `share_of_total` /
    `share_of_total_broadcast` twin convention. Determinism:
    selection ties broken on doc_id, outputs ROUND(6).

    Reference basis: public DSIR paper; composes the feature-hash +
    rollup + broadcast machinery already in this tier.
    """
    docw = _dsir_docw(spark, sf_dir)
    n_sel = docw.agg(
        F.floor(F.count(F.lit(1)) / DSIR_SELECT_DENOM)
        .cast("long")
        .alias("n_sel")
    )
    ranked = docw.withColumn(
        "rn",
        F.row_number().over(Window.orderBy(F.col("logw").desc(), "doc_id")),
    ).crossJoin(F.broadcast(n_sel))
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum("logw").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_logw"),
            F.sum(
                F.when(F.col("rn") <= F.col("n_sel"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("n_selected"),
            F.max("n_sel").alias("_n_sel"),
        )
        .select(
            "source",
            "n_docs",
            "mean_logw",
            "n_selected",
            F.round(
                F.col("n_selected") / F.col("_n_sel").cast("double"), 6
            ).alias("budget_share"),
        )
        .orderBy("source")
    )


DSIR_IMPORTANCE_WEIGHTS_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, source, string_split({_NORM_SQL}, ' ') AS tks
  FROM documents
),
grams AS (
  SELECT doc_id, lang, source, g
  FROM toks, UNNEST(list_concat(tks,
    [array_to_string(tks[i:i+1], ' ')
     FOR i IN generate_series(1, len(tks) - 1)])) AS t(g)
  WHERE g <> ''
),
dbc AS (
  SELECT doc_id, lang, source,
         CAST({_d_hash60("g")} % {DSIR_BUCKETS} AS INTEGER) AS bucket,
         COUNT(*) AS n
  FROM grams GROUP BY ALL
),
raw AS (SELECT bucket, SUM(n) AS c_raw FROM dbc GROUP BY 1),
tgt AS (
  SELECT bucket, SUM(n) AS c_tgt FROM dbc
  WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY 1
),
tot AS (
  SELECT SUM(n) AS tot_raw,
         SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN n ELSE 0 END)
           AS tot_tgt
  FROM dbc
),
lam AS (
  SELECT r.bucket,
         ROUND(ln((COALESCE(t.c_tgt, 0) + {DSIR_ALPHA!r})
                  / (tot_tgt + {_DSIR_SMOOTH_DENOM!r}))
             - ln((r.c_raw + {DSIR_ALPHA!r})
                  / (tot_raw + {_DSIR_SMOOTH_DENOM!r})), 12) AS lam
  FROM raw r LEFT JOIN tgt t USING (bucket), tot
),
docw AS (
  -- LEFT join from documents: a doc with zero non-empty n-grams is
  -- still a corpus member with logw exactly 0 (matches the Spark leg)
  SELECT d.doc_id, d.source,
         COALESCE(w.logw, CAST(0 AS DECIMAL(28,14))) AS logw
  FROM documents d
  LEFT JOIN (
    SELECT doc_id,
           SUM(CAST(ROUND(n * lam, 12) AS DECIMAL(28,14))) AS logw
    FROM dbc JOIN lam USING (bucket) GROUP BY 1
  ) w ON w.doc_id = d.doc_id
),
nsel AS (
  SELECT CAST(FLOOR(COUNT(*) / {DSIR_SELECT_DENOM}) AS BIGINT) AS n_sel
  FROM docw
),
ranked AS (
  SELECT docw.*, n_sel,
         ROW_NUMBER() OVER (ORDER BY logw DESC, doc_id) AS rn
  FROM docw, nsel
)
SELECT source,
       COUNT(*) AS n_docs,
       ROUND(CAST(SUM(logw) AS DOUBLE) / COUNT(*), 6) AS mean_logw,
       CAST(SUM(CASE WHEN rn <= n_sel THEN 1 ELSE 0 END) AS BIGINT)
         AS n_selected,
       ROUND(SUM(CASE WHEN rn <= n_sel THEN 1 ELSE 0 END)
             / CAST(MAX(n_sel) AS DOUBLE), 6) AS budget_share
FROM ranked
GROUP BY source
ORDER BY source
"""


def dsir_importance_weights_threshold(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`dsir_importance_weights`'s 100 TB form: the global top-1/
    {DSIR_SELECT_DENOM} selection comes from a 6-dp logw HISTOGRAM cut
    instead of ranking the whole corpus through one unpartitioned
    `row_number` window. Identical output and oracle — the
    `share_of_total` / `share_of_total_broadcast` twin convention.

    Selection plan: (1) bucket every doc's logw to 6 dp and roll the
    corpus up into a (bucket, count) histogram — one map-side-combined
    shuffle whose key space is bounded by the 6-dp value range, not
    the corpus; (2) a cumulative count over the histogram (window over
    the BOUNDED histogram frame, descending buckets) finds the
    boundary bucket where the running count first reaches
    n_sel = floor(N/{DSIR_SELECT_DENOM}); (3) docs in strictly-higher
    buckets are all selected via a broadcast-filter (ROUND is monotone,
    so bucket(x) > bucket(cut) implies logw(x) > every boundary logw);
    (4) the remaining slots come from a (logw desc, doc_id) tie-scan of
    the boundary bucket ALONE — the only unpartitioned sort ranks that
    single bucket's membership, not the corpus. Exactly the original's
    (logw desc, doc_id) selection set: full-precision logw ties can
    only occur inside one bucket. The docw frame is `materialize()`d —
    histogram, n_sel, per-source base rollup and both selection
    branches would each re-run the n-gram explode otherwise.
    """
    docw = materialize(
        _dsir_docw(spark, sf_dir).withColumn("b", F.round(F.col("logw"), 6))
    )
    n_sel = docw.agg(
        F.floor(F.count(F.lit(1)) / DSIR_SELECT_DENOM)
        .cast("long")
        .alias("n_sel")
    )
    hist = (
        docw.groupBy("b")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(n_sel))
        .withColumn(
            "cum", F.sum("n").over(Window.orderBy(F.col("b").desc()))
        )
    )
    cut = hist.filter(F.col("cum") >= F.col("n_sel")).agg(
        F.max("b").alias("b_cut")
    )
    cutinfo = hist.join(
        F.broadcast(cut), F.col("b") == F.col("b_cut")
    ).select(
        "b_cut",
        (F.col("n_sel") - (F.col("cum") - F.col("n"))).alias("r_slots"),
    )
    flagged = docw.crossJoin(F.broadcast(cutinfo))
    upper = flagged.filter(F.col("b") > F.col("b_cut")).select(
        "doc_id", "source"
    )
    boundary = (
        flagged.filter(F.col("b") == F.col("b_cut"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("logw").desc(), "doc_id")
            ),
        )
        .filter(F.col("rn") <= F.col("r_slots"))
        .select("doc_id", "source")
    )
    sel = (
        upper.unionByName(boundary)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_selected"))
    )
    return (
        docw.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum("logw").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_logw"),
        )
        .join(F.broadcast(sel), "source", "left")
        .crossJoin(F.broadcast(n_sel))
        .select(
            "source",
            "n_docs",
            "mean_logw",
            F.coalesce(F.col("n_selected"), F.lit(0))
            .cast("long")
            .alias("n_selected"),
            F.round(
                F.coalesce(F.col("n_selected"), F.lit(0))
                / F.col("n_sel").cast("double"),
                6,
            ).alias("budget_share"),
        )
        .orderBy("source")
    )


# Intentionally the exact-spec global-rank SQL: a green differential
# verdict on the threshold twin PROVES the histogram-cut selection set
# equals the (logw desc, doc_id) global ranking's.
DSIR_IMPORTANCE_WEIGHTS_THRESHOLD_SQL = DSIR_IMPORTANCE_WEIGHTS_SQL


# --------------------------- interpolated n-gram LM perplexity gate

# The CCNet-standard corpus quality filter (Wenzek et al., LREC 2020):
# score every document by the per-token cross-entropy of an n-gram LM
# trained on a reference split, then bucket into head/middle/tail by
# per-language score terciles.  unigram_xent_quality is the 1-gram
# floor of this; here the model is a bigram LM with Jelinek-Mercer
# interpolation (lambda*p_ML(w|v) + (1-lambda)*p_add-alpha(w)), trained
# on the deterministic train split and applied to the whole corpus —
# the train/apply discipline of bpe_holdout_coverage, the counting
# machinery of dup_ngram_coverage/word_cooccurrence_pmi.
NGRAM_LM_MOD = 10
NGRAM_LM_CUT = 8  # train = doc_id % 10 < 8 (~80%)
NGRAM_LM_L2 = 0.7  # bigram ML weight
NGRAM_LM_L1 = 0.3  # unigram backoff weight (literal, not 1-L2: exact)
NGRAM_LM_ALPHA = 0.5  # add-alpha unigram smoothing (+1 OOV class)
NGRAM_LM_BANDS = 3  # CCNet head / middle / tail


def ngram_lm_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM perplexity gate: per (lang, band) counts
    and mean per-token cross-entropy, where band is the per-language
    NTILE({NGRAM_LM_BANDS}) of doc cross-entropy (band 1 = head =
    most-fluent third under the train-split LM) — plus how many train
    -split docs land in each band (the self-fit sanity column).

    Model: p(w|v) = {NGRAM_LM_L2}*c2(v,w)/c1ctx(v) +
    {NGRAM_LM_L1}*(c1(w)+{NGRAM_LM_ALPHA})/(N1+{NGRAM_LM_ALPHA}*(V+1)),
    trained on doc_id % {NGRAM_LM_MOD} < {NGRAM_LM_CUT}; OOV contexts
    back off to the smoothed unigram (the +1 in the denominator is the
    UNK class).  Cross-entropy is the mean -ln p over a doc's
    transitions; perplexity = exp(xent) is monotone in it, so the gate
    ranks on xent and never computes exp (no cross-engine exp).

    Plan shape (100 TB): the trained model is two vocabulary-bounded
    frames — the bigram count table (materialize()d: consumed by its
    context-total rollup AND the scoring join) and the unigram table
    (materialize()d: consumed by the N1/V totals AND the scoring
    join).  Scoring is one corpus transition pass: a shuffle join to
    the bigram table on (v, w) plus broadcast unigram/context/totals
    joins; per-doc rollup, then a per-lang NTILE window.  Determinism:
    per-transition ln terms ROUND(12) + DECIMAL accumulation, xent
    ROUND(6), NTILE ties broken on doc_id.
    """
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", "lang", TX.tokenize("text").alias("tks")
    )
    train = toks.filter(
        F.col("doc_id") % NGRAM_LM_MOD < NGRAM_LM_CUT
    )
    uni = materialize(
        train.select(F.explode("tks").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    trans_expr = F.expr(
        "transform(sequence(1, size(tks) - 1), "
        "i -> struct(element_at(tks, i) AS v, "
        "element_at(tks, i + 1) AS w))"
    )

    def _transitions(frame: DataFrame) -> DataFrame:
        return (
            frame.filter(F.size("tks") >= 2)
            .select(
                "doc_id", "lang", F.explode(trans_expr).alias("t")
            )
            .select(
                "doc_id", "lang", F.col("t.v").alias("v"),
                F.col("t.w").alias("w"),
            )
        )

    c2 = materialize(
        _transitions(train)
        .groupBy("v", "w")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    ctx = c2.groupBy("v").agg(F.sum("c2").alias("cctx"))
    scal = uni.agg(
        F.sum("c1").alias("n1"), F.count(F.lit(1)).alias("v_size")
    )
    p2 = F.when(
        F.col("cctx") > 0,
        F.coalesce(F.col("c2"), F.lit(0)) / F.col("cctx").cast("double"),
    ).otherwise(F.lit(0.0))
    p1 = (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(NGRAM_LM_ALPHA)) / (
        F.col("n1") + F.lit(NGRAM_LM_ALPHA) * (F.col("v_size") + 1)
    )
    dec = "decimal(28,14)"
    docx = (
        _transitions(toks)
        .join(c2, ["v", "w"], "left")
        .join(F.broadcast(ctx), "v", "left")
        .join(
            F.broadcast(uni.select(F.col("w"), "c1")), "w", "left"
        )
        .crossJoin(F.broadcast(scal))
        .select(
            "doc_id",
            "lang",
            F.round(
                F.log(
                    F.lit(NGRAM_LM_L2) * p2 + F.lit(NGRAM_LM_L1) * p1
                ),
                12,
            )
            .cast(dec)
            .alias("term"),
        )
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_trans"),
            F.sum("term").alias("s"),
        )
        .select(
            "doc_id",
            "lang",
            F.round(
                -F.col("s").cast("double") / F.col("n_trans"), 6
            ).alias("xent"),
            (F.col("doc_id") % NGRAM_LM_MOD < NGRAM_LM_CUT).alias(
                "is_train"
            ),
        )
    )
    banded = docx.withColumn(
        "band",
        F.ntile(NGRAM_LM_BANDS).over(
            Window.partitionBy("lang").orderBy("xent", "doc_id")
        ),
    )
    return (
        banded.groupBy("lang", "band")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("xent").cast(dec)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_xent"),
            F.sum(
                F.when(F.col("is_train"), F.lit(1)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_train_docs"),
        )
        .orderBy("lang", "band")
    )


NGRAM_LM_QUALITY_GATE_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, string_split({_NORM_SQL}, ' ') AS tks
  FROM documents
),
train AS (
  SELECT * FROM toks WHERE doc_id % {NGRAM_LM_MOD} < {NGRAM_LM_CUT}
),
uni AS (
  SELECT w, COUNT(*) AS c1
  FROM train, UNNEST(tks) AS u(w)
  WHERE w <> '' GROUP BY 1
),
bi_train AS (
  SELECT tks[i] AS v, tks[i + 1] AS w
  FROM train, UNNEST(generate_series(1, len(tks) - 1)) AS g(i)
  WHERE len(tks) >= 2
),
c2 AS (SELECT v, w, COUNT(*) AS c2 FROM bi_train GROUP BY 1, 2),
ctx AS (SELECT v, SUM(c2) AS cctx FROM c2 GROUP BY 1),
scal AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n1,
         CAST(COUNT(*) AS BIGINT) AS v_size
  FROM uni
),
t_all AS (
  SELECT doc_id, lang, tks[i] AS v, tks[i + 1] AS w
  FROM toks, UNNEST(generate_series(1, len(tks) - 1)) AS g(i)
  WHERE len(tks) >= 2
),
scored AS (
  SELECT t.doc_id, t.lang,
         ROUND(ln(
           {NGRAM_LM_L2!r} * (CASE WHEN COALESCE(x.cctx, 0) > 0
              THEN COALESCE(b.c2, 0) / CAST(x.cctx AS DOUBLE)
              ELSE 0.0 END)
           + {NGRAM_LM_L1!r} * ((COALESCE(u.c1, 0) + {NGRAM_LM_ALPHA!r})
              / (n1 + {NGRAM_LM_ALPHA!r} * (v_size + 1)))
         ), 12) AS term
  FROM t_all t
  LEFT JOIN c2 b ON t.v = b.v AND t.w = b.w
  LEFT JOIN ctx x ON t.v = x.v
  LEFT JOIN uni u ON t.w = u.w
  CROSS JOIN scal
),
docx AS (
  SELECT doc_id, lang,
         ROUND(-CAST(SUM(CAST(term AS DECIMAL(28,14))) AS DOUBLE)
               / COUNT(*), 6) AS xent,
         (doc_id % {NGRAM_LM_MOD} < {NGRAM_LM_CUT}) AS is_train
  FROM scored GROUP BY doc_id, lang
),
banded AS (
  SELECT *, NTILE({NGRAM_LM_BANDS}) OVER (
    PARTITION BY lang ORDER BY xent, doc_id
  ) AS band
  FROM docx
)
SELECT lang, band,
       COUNT(*) AS n_docs,
       ROUND(CAST(SUM(CAST(xent AS DECIMAL(28,14))) AS DOUBLE)
             / COUNT(*), 6) AS mean_xent,
       CAST(SUM(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT)
         AS n_train_docs
FROM banded
GROUP BY lang, band
ORDER BY lang, band
"""


# ------------------------------------------ dedup threshold sweep

# The dedup aggressiveness dial: how many pairs/docs does each Jaccard
# threshold retire?  The pair frame is computed ONCE at the banding's
# tau floor; the sweep is an explode over literals — the marginal cost
# of 4 more sweep points is a 5-row groupBy, never a second corpus pass.
DEDUP_SWEEP_TAUS = [0.5, 0.6, 0.7, 0.8, 0.9]


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup ROI curve: for each candidate Jaccard threshold in
    {DEDUP_SWEEP_TAUS}, the verified pair count, the documents retired
    under keep-first (any partner with a smaller doc_id), and the
    corpus share retired — the table an operator reads before picking
    the dedup dial (every threshold's cost/benefit from ONE pass).

    Plan shape (100 TB): one shingle pass + one signature pass + one
    banded verify (the standing `_minhash_pairs_for` frame at the tau
    floor {JACCARD_TAU}); the sweep explodes 5 literal thresholds over
    the PAIR set (orders of magnitude smaller than the corpus) and
    left-joins back to the literal threshold frame so a pair-free
    threshold still reports a zero row.  All counts integer-exact;
    the only float is the final ROUND(6) share."""
    d = _docs(spark, sf_dir)
    pairs = _minhash_pairs_for(d).select("doc_b", "jaccard")
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    taus = spark.createDataFrame(
        [(t,) for t in DEDUP_SWEEP_TAUS], "tau double"
    )
    sw = (
        pairs.select(
            "doc_b",
            "jaccard",
            F.explode(
                F.array(*[F.lit(t) for t in DEDUP_SWEEP_TAUS])
            ).alias("tau"),
        )
        .filter(F.col("jaccard") >= F.col("tau"))
        .groupBy("tau")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("doc_b").alias("n_docs_dropped"),
        )
    )
    return (
        taus.join(sw, "tau", "left")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tau",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.coalesce("n_docs_dropped", F.lit(0)).alias(
                "n_docs_dropped"
            ),
            F.round(
                F.coalesce("n_docs_dropped", F.lit(0))
                / F.col("n_docs").cast("double"),
                6,
            ).alias("drop_share"),
        )
        .orderBy("tau")
    )


DEDUP_THRESHOLD_SWEEP_SQL = f"""
WITH src AS ({NEAR_DUP_MINHASH_LSH_SQL}),
taus(tau) AS (VALUES {", ".join(f"({t!r})" for t in DEDUP_SWEEP_TAUS)}),
tot AS (SELECT COUNT(*) AS n_docs FROM documents),
sw AS (
  SELECT t.tau,
         COUNT(*) AS n_pairs,
         COUNT(DISTINCT s.doc_b) AS n_docs_dropped
  FROM taus t JOIN src s ON s.jaccard >= t.tau
  GROUP BY 1
)
SELECT t.tau,
       COALESCE(sw.n_pairs, 0) AS n_pairs,
       COALESCE(sw.n_docs_dropped, 0) AS n_docs_dropped,
       ROUND(COALESCE(sw.n_docs_dropped, 0)
             / CAST(tot.n_docs AS DOUBLE), 6) AS drop_share
FROM taus t LEFT JOIN sw ON sw.tau = t.tau, tot
ORDER BY t.tau
"""


# ------------------------------------------- training epoch plan

# The repetition planner every pretrain data card documents: a token
# budget (a multiple of the corpus), temperature-weighted per-source
# targets, and an epoch cap — "repeat small high-value sources, never
# more than EPOCH_CAP times".
EPOCH_BUDGET_MULT = 2  # budget = 2x corpus tokens (integer-exact)
EPOCH_CAP = 4  # max repetitions of any source


def training_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source epoch/repetition plan under a {EPOCH_BUDGET_MULT}x
    corpus-token budget: temperature share (w = sqrt(tokens), the
    temperature_resampled_mix rule at source granularity), target
    tokens, raw epochs target/tokens, epochs capped at {EPOCH_CAP},
    the allocation actually served, and the capped surplus the planner
    must redistribute or return — the table a pretrain run plans its
    sampling weights from.

    Plan shape (100 TB): one corpus pass to per-source token totals
    (map-side partials into a |sources|-row frame) + a broadcast 1-row
    global sum — flat, exactly temperature_resampled_mix's envelope.
    Determinism: sqrt weights ROUND(9) into DECIMAL (the temperature-
    mix rule), targets ROUND(0) to BIGINT, epoch ratios ROUND(6), the
    cap compared on integer token counts."""
    d = _docs(spark, sf_dir)
    dec = "decimal(38,12)"
    totals = (
        d.select(
            "source",
            F.size(TX.tokenize("text")).cast("long").alias("n_tok"),
        )
        .groupBy("source")
        .agg(F.sum("n_tok").alias("src_tokens"))
        .select(
            "source",
            "src_tokens",
            F.round(F.sqrt(F.col("src_tokens").cast("double")), 9)
            .cast(dec)
            .alias("w"),
        )
    )
    g = totals.agg(
        F.sum("src_tokens").alias("total_tokens"),
        F.sum("w").alias("sum_w"),
    )
    p_temp = F.col("w").cast("double") / F.col("sum_w").cast("double")
    budget = (F.col("total_tokens") * EPOCH_BUDGET_MULT).cast("double")
    target = F.round(budget * p_temp, 0).cast("long")
    return (
        totals.crossJoin(F.broadcast(g))
        .select(
            "source",
            "src_tokens",
            F.round(p_temp, 6).alias("p_temp"),
            target.alias("target_tokens"),
            F.round(
                target.cast("double") / F.col("src_tokens"), 6
            ).alias("epochs_raw"),
            F.round(
                F.least(
                    target.cast("double") / F.col("src_tokens"),
                    F.lit(float(EPOCH_CAP)),
                ),
                6,
            ).alias("epochs_capped"),
            F.least(target, F.col("src_tokens") * EPOCH_CAP).alias(
                "alloc_tokens"
            ),
            (
                target - F.least(target, F.col("src_tokens") * EPOCH_CAP)
            ).alias("surplus_tokens"),
        )
        .orderBy("source")
    )


TRAINING_EPOCH_PLAN_SQL = f"""
WITH per_doc AS (
  SELECT source,
         CAST(len(string_split({_NORM_SQL}, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
tot AS (
  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS src_tokens,
         CAST(ROUND(sqrt(CAST(SUM(n_tok) AS DOUBLE)), 9)
              AS DECIMAL(38,12)) AS w
  FROM per_doc GROUP BY 1
),
g AS (
  SELECT CAST(SUM(src_tokens) AS BIGINT) AS total_tokens,
         SUM(w) AS sum_w
  FROM tot
),
plan AS (
  SELECT source, src_tokens,
         CAST(w AS DOUBLE) / CAST(sum_w AS DOUBLE) AS pt,
         CAST(ROUND(CAST(total_tokens * {EPOCH_BUDGET_MULT} AS DOUBLE)
                    * (CAST(w AS DOUBLE) / CAST(sum_w AS DOUBLE)), 0)
              AS BIGINT) AS target_tokens
  FROM tot, g
)
SELECT source, src_tokens,
       ROUND(pt, 6) AS p_temp,
       target_tokens,
       ROUND(CAST(target_tokens AS DOUBLE) / src_tokens, 6)
         AS epochs_raw,
       ROUND(LEAST(CAST(target_tokens AS DOUBLE) / src_tokens,
                   {float(EPOCH_CAP)!r}), 6) AS epochs_capped,
       LEAST(target_tokens, src_tokens * {EPOCH_CAP}) AS alloc_tokens,
       target_tokens - LEAST(target_tokens, src_tokens * {EPOCH_CAP})
         AS surplus_tokens
FROM plan
ORDER BY source
"""


# -------------------------------------- quality filter agreement

# Do the corpus-quality gates agree on WHICH docs to keep?  The
# calibration table a curation team reads before stacking filters:
# pairwise observed agreement + Cohen's kappa between the three
# per-doc pass/fail rules this tier already ships (the Gopher
# heuristic gate, the unigram cross-entropy flag, the repetition
# flag).  Low kappa = the filters retire DIFFERENT docs (stacking
# multiplies loss); high kappa = redundant gates.


def quality_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise agreement matrix of the three quality gates: one row
    per filter pair with doc counts, both-pass counts, observed
    agreement, and Cohen's kappa (chance-corrected on the two filters'
    marginal pass rates; NULL when a degenerate marginal makes the
    correction undefined).

    The per-doc rules are expression-identical to their source
    queries' (gopher_quality_flags' three-way pass, unigram_xent
    _quality's decimal low-prob flag, text_repetition_stats' integer
    cross-multiplied repetition flag) — tests/test_round13.py pins the
    implied per-filter pass counts to the source queries' own rollups
    so the copies cannot drift.

    Plan shape (100 TB): the token explode + two hash-aggregates +
    vocabulary-bounded lnp join are shared passes into ONE per-doc
    flag frame; the matrix is one global aggregate (9 integer sums)
    expanded to 3 literal rows.  Kappa's float path: marginals divide
    integer counts, pe/po are single IEEE expressions, ROUND(6)."""
    d = _docs(spark, sf_dir)
    tks = TX.tokenize("text")
    n_tok_c = F.size(tks)
    n_chars_c = F.length(TX.normalize_text("text")) - (n_tok_c - F.lit(1))
    n_stop_c = F.size(
        F.array_intersect(tks, F.array(*[F.lit(s) for s in TX.STOPWORDS]))
    )
    gopher = d.select(
        "doc_id",
        (
            (n_tok_c >= GOPHER_MIN_TOKENS)
            & (n_tok_c <= GOPHER_MAX_TOKENS)
            & (n_chars_c >= n_tok_c * GOPHER_MWL_MIN)
            & (n_chars_c <= n_tok_c * GOPHER_MWL_MAX)
            & (n_stop_c >= GOPHER_MIN_STOPWORD_HITS)
        )
        .cast("long")
        .alias("f_gopher"),
    )
    tok = d.select("doc_id", F.explode(tks).alias("t"))
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("n_total"))
    lnp = freq.crossJoin(F.broadcast(total)).select(
        "t",
        F.round(F.log(F.col("cnt") / F.col("n_total")), 6)
        .cast("decimal(18,6)")
        .alias("lnp"),
    )
    xent = (
        tok.join(lnp, "t")
        .groupBy("doc_id")
        .agg(
            F.sum("lnp").alias("sum_lnp"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .select(
            "doc_id",
            (
                ~(
                    F.col("sum_lnp")
                    < F.lit(XENT_FLAG_THRESHOLD) * F.col("n_tokens")
                )
            )
            .cast("long")
            .alias("f_xent"),
        )
    )
    tok_doc = (
        tok.groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("n").alias("top_token_n"),
        )
    )
    bg_doc = (
        TX.shingle_rows(d, 2)
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(F.sum("n").alias("n_bigrams"), F.max("n").alias("top_bigram_n"))
    )
    rep = (
        tok_doc.join(bg_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            "top_token_n",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("top_bigram_n", F.lit(0)).alias("top_bigram_n"),
        )
        .select(
            "doc_id",
            (
                ~(
                    (F.col("top_token_n") * 5 > F.col("n_tokens"))
                    | (
                        F.col("top_bigram_n") * 50
                        > F.col("n_bigrams") * 9
                    )
                    | (F.col("n_distinct") * 2 < F.col("n_tokens"))
                )
            )
            .cast("long")
            .alias("f_rep"),
        )
    )
    flags = gopher.join(xent, "doc_id").join(rep, "doc_id")
    m = flags.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("f_gopher").alias("pg"),
        F.sum("f_xent").alias("px"),
        F.sum("f_rep").alias("pr"),
        F.sum(
            (F.col("f_gopher") == F.col("f_xent")).cast("long")
        ).alias("agree_gx"),
        F.sum(
            (F.col("f_gopher") == F.col("f_rep")).cast("long")
        ).alias("agree_gr"),
        F.sum((F.col("f_xent") == F.col("f_rep")).cast("long")).alias(
            "agree_xr"
        ),
        F.sum(F.col("f_gopher") * F.col("f_xent")).alias("both_gx"),
        F.sum(F.col("f_gopher") * F.col("f_rep")).alias("both_gr"),
        F.sum(F.col("f_xent") * F.col("f_rep")).alias("both_xr"),
    )

    def row(fa, fb, pa, pb, agree, both):
        po = F.col(agree) / F.col("n").cast("double")
        ra = F.col(pa) / F.col("n").cast("double")
        rb = F.col(pb) / F.col("n").cast("double")
        pe = ra * rb + (F.lit(1.0) - ra) * (F.lit(1.0) - rb)
        return m.select(
            F.lit(fa).alias("filter_a"),
            F.lit(fb).alias("filter_b"),
            F.col("n").alias("n_docs"),
            F.col(agree).alias("n_agree"),
            F.col(both).alias("n_both_pass"),
            F.round(po, 6).alias("agree_rate"),
            F.when(
                F.lit(1.0) - pe != 0.0,
                F.round((po - pe) / (F.lit(1.0) - pe), 6),
            ).alias("kappa"),
        )

    return (
        row("gopher", "repetition", "pg", "pr", "agree_gr", "both_gr")
        .unionByName(
            row("gopher", "unigram_xent", "pg", "px", "agree_gx", "both_gx")
        )
        .unionByName(
            row(
                "repetition", "unigram_xent", "pr", "px", "agree_xr",
                "both_xr",
            )
        )
        .orderBy("filter_a", "filter_b")
    )


QUALITY_FILTER_AGREEMENT_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
gopher AS (
  SELECT doc_id,
         CASE WHEN len(tks) >= {GOPHER_MIN_TOKENS}
               AND len(tks) <= {GOPHER_MAX_TOKENS}
               AND length(norm) - (len(tks) - 1)
                   >= len(tks) * {GOPHER_MWL_MIN}
               AND length(norm) - (len(tks) - 1)
                   <= len(tks) * {GOPHER_MWL_MAX}
               AND len(list_intersect(tks, {_STOP_LIST_SQL}))
                   >= {GOPHER_MIN_STOPWORD_HITS}
              THEN 1 ELSE 0 END AS f_gopher
  FROM toks
),
tok AS (SELECT doc_id, unnest(tks) AS t FROM toks),
freq AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY 1),
total AS (SELECT SUM(cnt) AS n_total FROM freq),
lnp AS (
  SELECT t,
         CAST(ROUND(ln(CAST(cnt AS DOUBLE) / n_total), 6)
              AS DECIMAL(18,6)) AS lnp
  FROM freq CROSS JOIN total
),
xent AS (
  SELECT doc_id,
         CASE WHEN SUM(lnp) < {XENT_FLAG_THRESHOLD} * COUNT(*)
              THEN 0 ELSE 1 END AS f_xent
  FROM tok JOIN lnp USING (t)
  GROUP BY 1
),
tok_doc AS (
  SELECT doc_id, SUM(n) AS n_tokens, COUNT(*) AS n_distinct,
         MAX(n) AS top_token_n
  FROM (SELECT doc_id, t, COUNT(*) AS n FROM tok GROUP BY 1, 2)
  GROUP BY 1
),
bg AS (
  SELECT doc_id, unnest({_BG_POS_SQL}) AS g FROM toks
),
bg_doc AS (
  SELECT doc_id, SUM(n) AS n_bigrams, MAX(n) AS top_bigram_n
  FROM (SELECT doc_id, g, COUNT(*) AS n FROM bg GROUP BY 1, 2)
  GROUP BY 1
),
rep AS (
  SELECT t.doc_id,
         CASE WHEN (t.top_token_n * 5 > t.n_tokens)
               OR (COALESCE(b.top_bigram_n, 0) * 50
                   > COALESCE(b.n_bigrams, 0) * 9)
               OR (t.n_distinct * 2 < t.n_tokens)
              THEN 0 ELSE 1 END AS f_rep
  FROM tok_doc t LEFT JOIN bg_doc b USING (doc_id)
),
flags AS (
  SELECT g.doc_id, g.f_gopher, x.f_xent, r.f_rep
  FROM gopher g JOIN xent x USING (doc_id) JOIN rep r USING (doc_id)
),
m AS (
  SELECT COUNT(*) AS n,
         SUM(f_gopher) AS pg, SUM(f_xent) AS px, SUM(f_rep) AS pr,
         SUM(CASE WHEN f_gopher = f_xent THEN 1 ELSE 0 END) AS agree_gx,
         SUM(CASE WHEN f_gopher = f_rep THEN 1 ELSE 0 END) AS agree_gr,
         SUM(CASE WHEN f_xent = f_rep THEN 1 ELSE 0 END) AS agree_xr,
         SUM(f_gopher * f_xent) AS both_gx,
         SUM(f_gopher * f_rep) AS both_gr,
         SUM(f_xent * f_rep) AS both_xr
  FROM flags
),
rows_out AS (
  SELECT 'gopher' AS filter_a, 'repetition' AS filter_b,
         n AS n_docs, agree_gr AS n_agree, both_gr AS n_both_pass,
         pg AS p_a, pr AS p_b FROM m
  UNION ALL
  SELECT 'gopher', 'unigram_xent', n, agree_gx, both_gx, pg, px FROM m
  UNION ALL
  SELECT 'repetition', 'unigram_xent', n, agree_xr, both_xr, pr, px
  FROM m
)
SELECT filter_a, filter_b,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_agree AS BIGINT) AS n_agree,
       CAST(n_both_pass AS BIGINT) AS n_both_pass,
       ROUND(n_agree / CAST(n_docs AS DOUBLE), 6) AS agree_rate,
       CASE WHEN 1.0 - ((p_a / CAST(n_docs AS DOUBLE))
                        * (p_b / CAST(n_docs AS DOUBLE))
                        + (1.0 - p_a / CAST(n_docs AS DOUBLE))
                        * (1.0 - p_b / CAST(n_docs AS DOUBLE))) <> 0.0
            THEN ROUND(
              (n_agree / CAST(n_docs AS DOUBLE)
               - ((p_a / CAST(n_docs AS DOUBLE))
                  * (p_b / CAST(n_docs AS DOUBLE))
                  + (1.0 - p_a / CAST(n_docs AS DOUBLE))
                  * (1.0 - p_b / CAST(n_docs AS DOUBLE))))
              / (1.0 - ((p_a / CAST(n_docs AS DOUBLE))
                        * (p_b / CAST(n_docs AS DOUBLE))
                        + (1.0 - p_a / CAST(n_docs AS DOUBLE))
                        * (1.0 - p_b / CAST(n_docs AS DOUBLE)))), 6)
       END AS kappa
FROM rows_out
ORDER BY filter_a, filter_b
"""


# ------------------------------------------- BPE held-out coverage

# Train/serve discipline for the tokenizer tier: merges trained on a
# TRAIN split, applied to a held-out split the trainer never saw.
# Fertility (tokens per word occurrence) and merged-token share on the
# holdout measure how well the learned merges GENERALIZE — the number a
# tokenizer team reads before freezing a vocab (a merge table that only
# compresses its own training text is overfit).
BPE_HOLDOUT_MOD = 10  # train = doc_id % 10 < 8 (~80%), holdout = rest
BPE_HOLDOUT_CUT = 8


def _bpe_char_words(frame: DataFrame) -> DataFrame:
    """(w, cnt, char-split s) vocabulary frame for any (doc_id, text)
    frame — the encode path's base, expression-identical to
    _bpe_train's (the sync test pins the two)."""
    return (
        frame.select(F.explode(TX.tokenize("text")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "w",
            "cnt",
            F.expr(
                "transform(sequence(1, length(w)), "
                "i -> substring(w, i, 1))"
            ).alias("s"),
        )
    )


def _bpe_apply_merges(words: DataFrame, merges) -> DataFrame:
    """The frozen-merge-table ENCODE path: replay a trained merge list
    through the same greedy rewrite _bpe_train runs per round —
    expression-identical (tests/test_round12b.py asserts the replayed
    segmentations equal the trainer's, word for word)."""
    for _, a, b, _f in merges:
        ae = a.replace("'", "''")
        be = b.replace("'", "''")
        me = (a + b).replace("'", "''")
        words = words.select(
            "w",
            "cnt",
            F.expr(
                f"aggregate(slice(s, 2, size(s)-1), "
                f"array(element_at(s, 1)), "
                f"(acc, x) -> CASE WHEN element_at(acc, -1) = '{ae}' "
                f"AND x = '{be}' "
                f"THEN concat(slice(acc, 1, size(acc)-1), "
                f"array('{me}')) "
                f"ELSE concat(acc, array(x)) END)"
            ).alias("s"),
        )
    return words


def bpe_holdout_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE train/holdout generalization audit: merges trained on the
    train split (doc_id % {BPE_HOLDOUT_MOD} < {BPE_HOLDOUT_CUT}) are
    applied verbatim to the held-out vocabulary, and both splits report
    occurrence-weighted fertility (tokens per word) and merged-token
    share (the fraction of emitted tokens that are multi-character —
    the compression the merges actually deliver).

    Scale: training is the standing {BPE_ITERS}-round loop on the
    train split's vocabulary-sized frame; the holdout APPLY is one
    pass over the holdout vocabulary per merge — a fixed 4-step
    array-local rewrite, no training, exactly what the production
    encode path does with a frozen merge table. Both metric legs are
    integer arithmetic (token counts x word counts) until one final
    ROUND(6) division."""
    d = _docs(spark, sf_dir)
    is_train = (
        F.pmod(F.col("doc_id"), F.lit(BPE_HOLDOUT_MOD)) < BPE_HOLDOUT_CUT
    )
    _, merges = _bpe_train(spark, sf_dir, docs=d.filter(is_train))

    def metrics(words: DataFrame, split: str) -> DataFrame:
        return (
            words.select(
                "cnt",
                F.size("s").alias("n_tok"),
                F.size(
                    F.filter("s", lambda t: F.length(t) > 1)
                ).alias("n_merged"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_words"),
                F.sum("cnt").alias("occurrences"),
                F.round(
                    F.sum(F.col("cnt") * F.col("n_tok"))
                    / F.sum("cnt").cast("double"),
                    6,
                ).alias("fertility"),
                F.round(
                    F.sum(F.col("cnt") * F.col("n_merged"))
                    / F.sum(F.col("cnt") * F.col("n_tok")).cast("double"),
                    6,
                ).alias("merged_share"),
            )
            .select(F.lit(split).alias("split"), "*")
        )

    train_words = _bpe_apply_merges(_bpe_char_words(d.filter(is_train)), merges)
    hold_words = _bpe_apply_merges(_bpe_char_words(d.filter(~is_train)), merges)
    return (
        metrics(train_words, "train")
        .unionByName(metrics(hold_words, "holdout"))
        .orderBy("split")
    )


bpe_holdout_coverage.__doc__ = bpe_holdout_coverage.__doc__.format(
    BPE_HOLDOUT_MOD=BPE_HOLDOUT_MOD,
    BPE_HOLDOUT_CUT=BPE_HOLDOUT_CUT,
    BPE_ITERS=BPE_ITERS,
)


def _bpe_holdout_sql() -> str:
    train_toks = (
        f"SELECT * FROM ({_TOKS_SQL}) t"
        f" WHERE doc_id % {BPE_HOLDOUT_MOD} < {BPE_HOLDOUT_CUT}"
    )
    hold_toks = (
        f"SELECT * FROM ({_TOKS_SQL}) t"
        f" WHERE doc_id % {BPE_HOLDOUT_MOD} >= {BPE_HOLDOUT_CUT}"
    )
    parts = _bpe_cte_parts("t", toks_sql=train_toks)
    # holdout words (char-split base), then the SAME rewrite CTE shape
    # as the training chain but CROSS JOINing the TRAIN merges tb{i}
    parts.append(
        f"""h_tk0 AS ({hold_toks}),
h_words AS (
  SELECT t AS w, COUNT(*) AS cnt
  FROM (SELECT unnest(tks) AS t FROM h_tk0)
  WHERE t <> '' GROUP BY 1
),
h0 AS (
  SELECT w, cnt,
         [substr(w, i, 1) FOR i IN generate_series(1, length(w))] AS s
  FROM h_words
)"""
    )
    for i in range(1, BPE_ITERS + 1):
        parts.append(
            f"""h{i} AS (
  SELECT w.w, w.cnt,
         string_split(list_reduce(w.s,
           (acc, x) -> CASE
             WHEN (acc = b.a OR ends_with(acc, chr(31) || b.a))
                  AND x = b.b
             THEN substr(acc, 1, length(acc) - length(b.a)) || b.m
             ELSE acc || chr(31) || x END), chr(31)) AS s
  FROM h{i - 1} w CROSS JOIN tb{i} b
)"""
        )
    metric = """
  SELECT '{split}' AS split,
         COUNT(*) AS n_words,
         CAST(SUM(cnt) AS BIGINT) AS occurrences,
         ROUND(SUM(cnt * len(s)) / CAST(SUM(cnt) AS DOUBLE), 6)
           AS fertility,
         ROUND(SUM(cnt * len([x FOR x IN s IF length(x) > 1]))
               / CAST(SUM(cnt * len(s)) AS DOUBLE), 6) AS merged_share
  FROM {frame}"""
    return (
        "WITH "
        + ",\n".join(parts)
        + "\nSELECT * FROM ("
        + metric.format(split="train", frame=f"tw{BPE_ITERS}")
        + "\nUNION ALL\n"
        + metric.format(split="holdout", frame=f"h{BPE_ITERS}")
        + "\n) ORDER BY split\n"
    )


BPE_HOLDOUT_COVERAGE_SQL = _bpe_holdout_sql()


# --------------------------------------------- training shard planner

# The last mile of corpus assembly: deterministic assignment of
# documents to training shards (the WebDataset/TFRecord layout every
# data loader reads), with the balance audit that tells you whether
# hash sharding left any shard token-starved.
N_TRAINING_SHARDS = 8


def training_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard plan: every document hash-assigned
    to one of {N_TRAINING_SHARDS} shards (seeded 60-bit content-id
    hash — reproducible under retries, stable as the corpus grows),
    with per-shard doc/token counts, token share, and the balance
    ratio vs the ideal uniform shard (the loader-starvation audit).

    Scale: one corpus pass (map-side token count + shard key), an
    {N_TRAINING_SHARDS}-row rollup, and a broadcast 1-row total —
    no global window, no second pass. The same pass in production
    also WRITES the shards (partitionBy(shard)); the plan here is the
    audit surface."""
    d = _docs(spark, sf_dir)
    per_doc = d.select(
        F.pmod(
            TX.hash60(F.col("doc_id").cast("string"), seed=7),
            F.lit(N_TRAINING_SHARDS),
        )
        .cast("int")
        .alias("shard"),
        F.size(TX.tokenize("text")).cast("long").alias("n_tok"),
    )
    shards = per_doc.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("shard_tokens"),
    )
    total = shards.agg(F.sum("shard_tokens").alias("total_tokens"))
    return (
        shards.crossJoin(F.broadcast(total))
        .select(
            "shard",
            "n_docs",
            "shard_tokens",
            F.round(
                F.col("shard_tokens") / F.col("total_tokens").cast("double"),
                6,
            ).alias("token_share"),
            F.round(
                F.col("shard_tokens")
                * F.lit(float(N_TRAINING_SHARDS))
                / F.col("total_tokens").cast("double"),
                6,
            ).alias("balance_ratio"),
        )
        .orderBy("shard")
    )


TRAINING_SHARD_PLAN_SQL = f"""
WITH per_doc AS (
  SELECT CAST(({_d_hash60("doc_id::VARCHAR", seed=7)})
              % {N_TRAINING_SHARDS} AS INT) AS shard,
         CAST(len(string_split({_NORM_SQL}, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
shards AS (
  SELECT shard, COUNT(*) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS shard_tokens
  FROM per_doc GROUP BY 1
),
tot AS (SELECT CAST(SUM(shard_tokens) AS BIGINT) AS total_tokens
        FROM shards)
SELECT shard, n_docs, shard_tokens,
       ROUND(shard_tokens / CAST(total_tokens AS DOUBLE), 6)
         AS token_share,
       ROUND(shard_tokens * {float(N_TRAINING_SHARDS)}
             / CAST(total_tokens AS DOUBLE), 6) AS balance_ratio
FROM shards, tot
ORDER BY shard
"""


# ------------------------------------- quality-aware canonicalization

# dedup_clusters keeps the MIN doc_id per near-dup cluster — the
# arbitrary-but-stable rule. Production curation pipelines usually keep
# the BEST member instead (the cleanest crawl of a boilerplate-wrapped
# article, the longest of two truncated copies); this query is that
# arbitration: survivor = argmax by (distinct-token count, token count,
# then min doc_id) — integer columns only, so the choice is
# bit-identical across engines.


def dedup_quality_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup canonicalization: connected components
    over the MinHash-LSH pair graph (the dedup_clusters closure), but
    the survivor of each cluster is its HIGHEST-QUALITY member —
    richest distinct-token vocabulary, then token count, then min
    doc_id — rather than the smallest id. One row per clustered doc
    with its cluster, quality features, survivor flag and the
    survivor's id (what a suppression list actually stores).

    Scale: the CC runs on the edge set only (orders smaller than the
    corpus); the quality features join touches ONLY clustered docs
    (labels semi-join the corpus before the token math), and the
    argmax is a per-cluster window over cluster-sized groups. The
    feature columns are integers end-to-end — no float enters the
    survivor decision."""
    pairs = _minhash_pair_frame(spark, sf_dir).select("doc_a", "doc_b")
    labels = _cc_min_labels(pairs)
    d = _docs(spark, sf_dir)
    tks = TX.tokenize("text")
    feats = d.join(labels, "doc_id").select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        F.size(F.array_distinct(tks)).alias("n_uniq_tokens"),
        F.size(tks).alias("n_tokens"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_uniq_tokens").desc(),
        F.col("n_tokens").desc(),
        F.col("doc_id"),
    )
    ranked = feats.withColumn("rn", F.row_number().over(w))
    survivors = ranked.filter(F.col("rn") == 1).select(
        F.col("cluster_id").alias("s_cluster"),
        F.col("doc_id").alias("survivor_id"),
    )
    sizes = feats.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return (
        ranked.join(
            F.broadcast(survivors),
            F.col("cluster_id") == F.col("s_cluster"),
        )
        .join(F.broadcast(sizes), "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "n_members",
            "n_uniq_tokens",
            "n_tokens",
            (F.col("doc_id") == F.col("survivor_id")).alias("is_survivor"),
            "survivor_id",
        )
        .orderBy("cluster_id", "doc_id")
    )


DEDUP_QUALITY_CANONICAL_SQL = f"""
WITH RECURSIVE pairs AS ({NEAR_DUP_MINHASH_LSH_SQL}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach AS (
  SELECT DISTINCT src AS doc_id, src AS label FROM edges
  UNION
  SELECT e.dst AS doc_id, r.label
  FROM reach r JOIN edges e ON e.src = r.doc_id
),
members AS (SELECT doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc_id),
toks AS ({_TOKS_SQL}),
feats AS (
  SELECT m.doc_id, m.cluster_id,
         CAST(len(list_distinct(t.tks)) AS INT) AS n_uniq_tokens,
         CAST(len(t.tks) AS INT) AS n_tokens
  FROM members m JOIN toks t USING (doc_id)
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY cluster_id
    ORDER BY n_uniq_tokens DESC, n_tokens DESC, doc_id
  ) AS rn
  FROM feats
),
surv AS (
  SELECT cluster_id, doc_id AS survivor_id FROM ranked WHERE rn = 1
),
sizes AS (
  SELECT cluster_id, COUNT(*) AS n_members FROM feats GROUP BY 1
)
SELECT f.doc_id, f.cluster_id, z.n_members, f.n_uniq_tokens, f.n_tokens,
       (f.doc_id = s.survivor_id) AS is_survivor,
       s.survivor_id
FROM feats f
JOIN surv s USING (cluster_id)
JOIN sizes z USING (cluster_id)
ORDER BY f.cluster_id, f.doc_id
"""


# ----------------------------------------------- LSH band-config tuning

# The (bands, rows) factorization of the 16 minhashes is the knob every
# LSH deployment tunes: more bands with fewer rows each recalls lower-J
# pairs (and pays more candidates); fewer, longer bands sharpen the
# S-curve toward high J. lsh_recall_audit adjudicates the SHIPPED
# config (8x2); this query adjudicates the whole dial — measured
# P(candidate | J) per decile for each factorization, next to the
# theoretical 1-(1-J^r)^b at the decile midpoint, so the operator
# reads the tradeoff from data before re-banding an index.
LSH_TUNE_CONFIGS = [(16, 1), (8, 2), (4, 4)]  # (bands, rows), b*r = 16


def _lsh_theory_rows() -> list[tuple[str, int, float]]:
    """(config, j_band, theory) for every decile — computed ONCE in
    Python and fed to BOTH engines as literal constants, so the
    float-pow chain can never diverge between them.

    Includes j_band = J_BAND_W (the FLOOR(1.0 * W) band that only
    exact-duplicate pairs land in, theory exactly 1.0 for every
    config): the measured side inner-joins to these rows, so without
    it a corpus containing jaccard == 1.0 pairs would silently drop
    its exact-dup decile from the tuning table — while the recall
    audit (a LEFT join with no theory side) keeps that band, breaking
    the two queries' band-set equality (round-12 advice)."""
    out = []
    for bands_n, rows_n in LSH_TUNE_CONFIGS:
        for jb in range(J_BAND_W + 1):
            j_mid = min((jb + 0.5) / J_BAND_W, 1.0)
            out.append(
                (
                    f"{bands_n}x{rows_n}",
                    jb,
                    round(1.0 - (1.0 - j_mid**rows_n) ** bands_n, 4),
                )
            )
    return out


def lsh_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-config sweep over the LSH audit corpus: for each
    (bands x rows) factorization of the {MINHASH_N} minhashes, the
    measured candidate recall P(candidate | J) per true-Jaccard decile
    against the exact prefix-filter yardstick, next to the theoretical
    S-curve value at the decile midpoint — the tuning table a dedup
    operator reads before re-banding a production index (16x1 recalls
    the 0.5 decile at ~0.98 where 4x4 drops to ~0.23; the shipped 8x2
    sits between).

    Scale: ONE shingle pass (the shared materialized hash frame), ONE
    signature pass, ONE exact-yardstick pair plan, and since r14 ONE
    band-key explode + ONE bucket self-join for the WHOLE sweep: every
    config's keys carry a "<b>x<r>|" namespace tag, so a single tagged
    frame holds all 28 keys/doc and a single equi-join yields every
    config's candidate set at once (tags cannot collide across
    configs) — one Exchange where the per-config loop paid one per
    config per side. Candidate sets are banded, never all-pairs; the
    comparison is pair-set-sized. Theory values are Python-computed
    literals joined in (identically in the oracle), so no cross-engine
    float-pow enters the hash."""
    d = _lsh_audit_docs(_docs(spark, sf_dir))
    hs = _shingle_hash_frame(d)
    # consumed by: the sweep's candidate join + the decile rollup
    exact = materialize(
        _prefix_filter_pairs(d, hs=hs).select("doc_a", "doc_b", "jaccard")
    )
    p = F.lit(TX.MINHASH_P)
    # consumed by: both sides of the one tagged band-key self-join
    sig = materialize(
        hs.groupBy("doc_id")
        .agg(
            *[
                F.min((F.lit(a) * (F.col("h") % p) + b) % p).alias(f"s{i}")
                for i, (a, b) in enumerate(TX.minhash_params(MINHASH_N))
            ],
        )
        .select(
            "doc_id",
            F.array(*[f"s{i}" for i in range(MINHASH_N)]).alias("sig"),
        )
    )
    band_col = F.floor(F.col("jaccard") * J_BAND_W).cast("int").alias("j_band")
    eb = exact.groupBy(band_col).agg(F.count(F.lit(1)).alias("n_exact"))
    # ONE tagged band-key explode + ONE bucket self-join for the whole
    # sweep (r14, guide §2.4): each config's keys carry a "<b>x<r>|"
    # namespace tag, so one exploded frame holds all 28 keys/doc and
    # one equi-join on the tagged key replaces three per-config
    # self-joins + distincts + semi-joins — identical candidate sets
    # per config (tags cannot collide across configs), one Exchange
    # where the loop form paid one per config on each side.
    bands = sig.select(
        "doc_id",
        F.explode(
            F.concat(
                *[
                    TX.lsh_band_keys(
                        "sig", bands_n, rows_n, tag=f"{bands_n}x{rows_n}|"
                    )
                    for bands_n, rows_n in LSH_TUNE_CONFIGS
                ]
            )
        ).alias("bk"),
    )
    a, b2 = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b2,
            (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.substring_index(F.col("a.bk"), "|", 1).alias("config"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    hb = (
        cand.join(F.broadcast(exact), ["doc_a", "doc_b"])
        .groupBy("config", band_col)
        .agg(F.count(F.lit(1)).alias("n_cand"))
    )
    cfgs = spark.createDataFrame(
        [(f"{b}x{r}",) for b, r in LSH_TUNE_CONFIGS], "config string"
    )
    out = (
        eb.crossJoin(F.broadcast(cfgs))
        .join(hb, ["config", "j_band"], "left")
        .select(
            "config",
            "j_band",
            "n_exact",
            F.coalesce(F.col("n_cand"), F.lit(0)).alias("n_cand"),
            F.round(
                F.coalesce(F.col("n_cand"), F.lit(0)).cast("double")
                / F.col("n_exact"),
                4,
            ).alias("recall"),
        )
    )
    theory = spark.createDataFrame(
        _lsh_theory_rows(), "config string, j_band int, theory double"
    )
    return (
        out.join(F.broadcast(theory), ["config", "j_band"])
        .select(
            "config", "j_band", "n_exact", "n_cand", "recall", "theory"
        )
        .orderBy("config", "j_band")
    )


def _band_key_sql_cfg(b: int, rows: int) -> str:
    slots = " || ',' || ".join(
        f"sig[{b * rows + r + 1}]::VARCHAR" for r in range(rows)
    )
    return f"'{b}:' || ({_d_hash60(slots, seed=b)})::VARCHAR"


def _lsh_band_tuning_sql() -> str:
    theory_values = ",\n         ".join(
        f"('{c}', {jb}, {t})" for c, jb, t in _lsh_theory_rows()
    )
    cfg_parts, cfg_selects = [], []
    for bands_n, rows_n in LSH_TUNE_CONFIGS:
        tag = f"{bands_n}x{rows_n}"
        keys = ", ".join(
            _band_key_sql_cfg(b, rows_n) for b in range(bands_n)
        )
        cfg_parts.append(
            f"""bands_{tag} AS (
  SELECT doc_id, unnest([{keys}]) AS bk FROM sig
),
cand_{tag} AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands_{tag} a JOIN bands_{tag} b
    ON a.bk = b.bk AND a.doc_id < b.doc_id
),
hb_{tag} AS (
  SELECT CAST(FLOOR(e.jaccard * {J_BAND_W}) AS INT) AS j_band,
         COUNT(*) AS n_cand
  FROM exact e SEMI JOIN cand_{tag} c
    ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b
  GROUP BY 1
)"""
        )
        cfg_selects.append(
            f"""SELECT '{tag}' AS config, eb.j_band, eb.n_exact,
       COALESCE(hb_{tag}.n_cand, 0) AS n_cand,
       ROUND(CAST(COALESCE(hb_{tag}.n_cand, 0) AS DOUBLE)
             / eb.n_exact, 4) AS recall
FROM eb LEFT JOIN hb_{tag} ON eb.j_band = hb_{tag}.j_band"""
        )
    # the signature CTEs reuse the SHARED fragments (_TOKS_SQL /
    # _SH_SQL / _MH_BASE_SQL / _MINHASH_SQL) — the same single source
    # NEAR_DUP_MINHASH_LSH_SQL is built from, retargeted at docs_aug
    toks_aug = _TOKS_SQL.replace("FROM documents", "FROM docs_aug")
    return (
        f"""WITH docs_aug AS ({_LSH_AUDIT_DOCS_SQL}),
toks AS ({toks_aug}),
sh AS ({_SH_SQL}),
mhb AS (SELECT doc_id, {_MH_BASE_SQL} AS mh FROM sh),
sig AS (SELECT doc_id, {_MINHASH_SQL} AS sig FROM mhb),
exact AS (
  SELECT doc_a, doc_b, jaccard
  FROM ({NEAR_DUP_PREFIX_FILTER_SQL.replace("FROM documents", "FROM docs_aug")})
),
eb AS (
  SELECT CAST(FLOOR(jaccard * {J_BAND_W}) AS INT) AS j_band,
         COUNT(*) AS n_exact
  FROM exact GROUP BY 1
),
"""
        + ",\n".join(cfg_parts)
        + f""",
theory(config, j_band, theory) AS (
  VALUES {theory_values}
),
legs AS (
  """
        + "\n  UNION ALL\n  ".join(cfg_selects)
        + """
)
SELECT l.config, l.j_band, l.n_exact, l.n_cand, l.recall, t.theory
FROM legs l JOIN theory t
  ON l.config = t.config AND l.j_band = t.j_band
ORDER BY l.config, l.j_band
"""
    )


LSH_BAND_TUNING_SQL = _lsh_band_tuning_sql()


# ---------------------------- seed-set quality classifier (GPT-3 style)

# The production bootstrap for corpus-quality filtering at 100 TB: an
# expensive/heuristic gate labels a seed set, a CHEAP discriminative
# classifier is fit on it, and the classifier scores the whole corpus
# (GPT-3's WebText-vs-CommonCrawl logistic filter; LLaMA's "looks like
# a reference" classifier; CCNet's fastText stage). Here the seed gate
# is the engine's own Gopher rule, the classifier is a two-class
# multinomial Naive Bayes (the naive_bayes_langid machinery with
# pass/fail as the classes), and the deliverable is the CALIBRATION
# table: per fixed-width ln-odds band of the held-out half, how often
# does the cheap score agree with the real gate?

SEEDSET_BAND_WIDTH = 1.0  # ln-odds per calibration band
SEEDSET_BAND_CLAMP = 6  # bands clamped to [-6, 6]


def seedset_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-set quality classifier calibration: fit a two-class
    multinomial NB (Laplace +1) on the even-doc_id half labeled by the
    Gopher gate (expression-identical to `gopher_quality_flags` /
    `quality_filter_agreement` — pinned by test), score the odd half
    with the sparse log-odds
      score(d) = lnprior + sum_{t in d} [ln(c_t+ +1) - ln(c_t- +1)]
                 - m * [ln(n+ + V) - ln(n- + V)]
    and report per fixed-width score band (width {SEEDSET_BAND_WIDTH},
    clamped to ±{SEEDSET_BAND_CLAMP}) the held-out doc count, the
    count the real gate passes, the pass rate, and the mean score —
    the monotone calibration curve that justifies replacing the gate
    with the classifier at scale.

    Scale (100 TB): one token explode shared by labeling and scoring;
    the model is ONE vocab-bounded (token, c+, c-) frame plus a 1-row
    broadcast of (lnprior, lnden); scoring is a token-keyed join +
    per-doc rollup; banding is a map-side floor — NO global sort or
    ranking window anywhere (the band grid replaces NTILE exactly the
    way the threshold twins replace their ranking windows). Every ln
    is ROUND({NB_LOG_DP})-then-DECIMAL before accumulation (the
    engine's float policy), so band assignment is bit-stable.
    """
    d = _docs(spark, sf_dir)
    tks = TX.tokenize("text")
    n_tok_c = F.size(tks)
    n_chars_c = F.length(TX.normalize_text("text")) - (n_tok_c - F.lit(1))
    n_stop_c = F.size(
        F.array_intersect(tks, F.array(*[F.lit(s) for s in TX.STOPWORDS]))
    )
    lab = d.select(
        "doc_id",
        tks.alias("tks"),
        (
            (n_tok_c >= GOPHER_MIN_TOKENS)
            & (n_tok_c <= GOPHER_MAX_TOKENS)
            & (n_chars_c >= n_tok_c * GOPHER_MWL_MIN)
            & (n_chars_c <= n_tok_c * GOPHER_MWL_MAX)
            & (n_stop_c >= GOPHER_MIN_STOPWORD_HITS)
        ).alias("passed"),
    )
    tok = lab.select(
        "doc_id", "passed", F.explode("tks").alias("t")
    ).filter(F.col("t") != "")
    train = tok.filter(F.col("doc_id") % 2 == 0)
    test = tok.filter(F.col("doc_id") % 2 == 1)
    # Narrow decimals on purpose: ln values are < 100, m < 10^6, so
    # (19,12) x (6,0) and the (19,12)+(31,12) addition chain never
    # exceed precision 38 — Spark's allowPrecisionLoss can then never
    # shave scale below 12 (the bug class a (28,12) x long multiply
    # hits: precision 49 -> capped 38 with SCALE loss, diverging from
    # DuckDB's exact decimal arithmetic in the 12th dp).
    dec = f"decimal(19,{NB_LOG_DP})"
    counts = train.groupBy("t").agg(
        F.sum(F.col("passed").cast("long")).alias("cp"),
        F.sum((~F.col("passed")).cast("long")).alias("cn"),
    )
    lnr = counts.select(
        "t",
        (
            F.round(F.log(F.col("cp") + 1), NB_LOG_DP).cast(dec)
            - F.round(F.log(F.col("cn") + 1), NB_LOG_DP).cast(dec)
        ).alias("lnr"),
    )
    g = counts.agg(
        F.sum("cp").alias("np"),
        F.sum("cn").alias("nn"),
        F.count(F.lit(1)).alias("v"),
    )
    pr = (
        train.select("doc_id", "passed")
        .distinct()
        .agg(
            F.sum(F.col("passed").cast("long")).alias("dp"),
            F.sum((~F.col("passed")).cast("long")).alias("dn"),
        )
    )
    model = g.crossJoin(F.broadcast(pr)).select(
        (
            F.round(F.log(F.col("dp") + F.lit(1.0)), NB_LOG_DP).cast(dec)
            - F.round(F.log(F.col("dn") + F.lit(1.0)), NB_LOG_DP).cast(dec)
        ).alias("lnprior"),
        (
            F.round(
                F.log((F.col("np") + F.col("v")).cast("double")), NB_LOG_DP
            ).cast(dec)
            - F.round(
                F.log((F.col("nn") + F.col("v")).cast("double")), NB_LOG_DP
            ).cast(dec)
        ).alias("lnden"),
    )
    s = (
        test.join(lnr, "t")
        .groupBy("doc_id")
        .agg(F.sum("lnr").alias("s1"), F.count(F.lit(1)).alias("m"))
    )
    docs_test = lab.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "passed"
    )
    scored = (
        docs_test.join(s, "doc_id", "left")
        .crossJoin(F.broadcast(model))
        .select(
            "passed",
            (
                F.col("lnprior")
                + F.coalesce(F.col("s1"), F.lit(0).cast(dec))
                - F.coalesce(F.col("m"), F.lit(0)).cast("decimal(6,0)")
                * F.col("lnden")
            ).alias("score"),
        )
    )
    band = F.least(
        F.greatest(
            F.floor(
                F.col("score").cast("double") / SEEDSET_BAND_WIDTH
            ).cast("long"),
            F.lit(-SEEDSET_BAND_CLAMP).cast("long"),
        ),
        F.lit(SEEDSET_BAND_CLAMP).cast("long"),
    )
    return (
        scored.select(band.alias("band"), "passed", "score")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("passed").cast("long")).alias("n_pass"),
            F.sum("score").alias("ssum"),
        )
        .select(
            "band",
            "n_docs",
            "n_pass",
            F.round(
                F.col("n_pass") / F.col("n_docs").cast("double"), 6
            ).alias("pass_rate"),
            F.round(F.col("ssum").cast("double") / F.col("n_docs"), 6).alias(
                "mean_score"
            ),
        )
        .orderBy("band")
    )


SEEDSET_QUALITY_CLASSIFIER_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
feat AS (
  SELECT doc_id, tks, len(tks) AS n_tok,
         length(norm) - (len(tks) - 1) AS n_chars,
         len(list_intersect(tks, {_STOP_LIST_SQL})) AS n_stop
  FROM toks
),
lab AS (
  SELECT doc_id, tks,
         (n_tok >= {GOPHER_MIN_TOKENS} AND n_tok <= {GOPHER_MAX_TOKENS}
          AND n_chars >= n_tok * {GOPHER_MWL_MIN}
          AND n_chars <= n_tok * {GOPHER_MWL_MAX}
          AND n_stop >= {GOPHER_MIN_STOPWORD_HITS}) AS passed
  FROM feat
),
tok0 AS (SELECT doc_id, passed, unnest(tks) AS t FROM lab),
tok AS (SELECT * FROM tok0 WHERE t <> ''),
train AS (SELECT * FROM tok WHERE doc_id % 2 = 0),
counts AS (
  SELECT t, CAST(SUM(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT) AS cp,
         CAST(SUM(CASE WHEN NOT passed THEN 1 ELSE 0 END) AS BIGINT) AS cn
  FROM train GROUP BY 1
),
lnr AS (
  SELECT t,
         CAST(ROUND(ln(cp + 1), {NB_LOG_DP}) AS DECIMAL(19,{NB_LOG_DP}))
         - CAST(ROUND(ln(cn + 1), {NB_LOG_DP}) AS DECIMAL(19,{NB_LOG_DP}))
           AS lnr
  FROM counts
),
g AS (
  SELECT CAST(SUM(cp) AS BIGINT) AS np, CAST(SUM(cn) AS BIGINT) AS nn,
         COUNT(*) AS v
  FROM counts
),
pr AS (
  SELECT CAST(SUM(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT) AS dp,
         CAST(SUM(CASE WHEN NOT passed THEN 1 ELSE 0 END) AS BIGINT) AS dn
  FROM (SELECT DISTINCT doc_id, passed FROM train)
),
model AS (
  SELECT CAST(ROUND(ln(dp + 1.0), {NB_LOG_DP}) AS DECIMAL(19,{NB_LOG_DP}))
         - CAST(ROUND(ln(dn + 1.0), {NB_LOG_DP})
                AS DECIMAL(19,{NB_LOG_DP})) AS lnprior,
         CAST(ROUND(ln(CAST(np + v AS DOUBLE)), {NB_LOG_DP})
              AS DECIMAL(19,{NB_LOG_DP}))
         - CAST(ROUND(ln(CAST(nn + v AS DOUBLE)), {NB_LOG_DP})
                AS DECIMAL(19,{NB_LOG_DP})) AS lnden
  FROM g, pr
),
test AS (SELECT * FROM tok WHERE doc_id % 2 = 1),
s AS (
  SELECT te.doc_id, SUM(l.lnr) AS s1, COUNT(*) AS m
  FROM test te JOIN lnr l USING (t) GROUP BY 1
),
docs_test AS (SELECT doc_id, passed FROM lab WHERE doc_id % 2 = 1),
scored AS (
  SELECT d.passed,
         m0.lnprior
         + COALESCE(s.s1, CAST(0 AS DECIMAL(19,{NB_LOG_DP})))
         - CAST(COALESCE(s.m, 0) AS DECIMAL(6,0)) * m0.lnden AS score
  FROM docs_test d LEFT JOIN s USING (doc_id), model m0
),
banded AS (
  SELECT LEAST(GREATEST(
           CAST(floor(CAST(score AS DOUBLE) / {SEEDSET_BAND_WIDTH!r})
                AS BIGINT),
           {-SEEDSET_BAND_CLAMP}), {SEEDSET_BAND_CLAMP}) AS band,
         passed, score
  FROM scored
)
SELECT band, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       ROUND(CAST(SUM(CASE WHEN passed THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS pass_rate,
       ROUND(CAST(SUM(score) AS DOUBLE) / COUNT(*), 6) AS mean_score
FROM banded GROUP BY 1 ORDER BY 1
"""


# ------------------------------------------- UniMax language mixture

# UniMax (Chung et al., "UniMax: Fairer and More Effective Language
# Sampling for Large-Scale Multilingual Pretraining", ICLR 2023):
# spread the token budget UNIFORMLY across languages, cap every
# language at a fixed epoch count, and waterfill the surplus from
# capped (low-resource) languages into the rest — the principled
# alternative to temperature sampling that this tier already ships
# (temperature_resampled_mix / training_epoch_plan are the alpha-temp
# arms; this is the uniform-with-caps arm, completing the mixture
# family: alpha=0, alpha-temp, DSIR data-driven, UniMax).

UNIMAX_BUDGET_MULT = EPOCH_BUDGET_MULT  # same 2x corpus-token budget
UNIMAX_EPOCH_CAP_NUM = 5  # per-language cap = 5/2 = 2.5 epochs —
UNIMAX_EPOCH_CAP_DEN = 2  # .5-multiples stay EXACT in doubles


def unimax_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax allocation over languages: water level theta solves
    sum_l min(cap_l, theta) = budget, computed in closed form as
    theta = MAX over languages (sorted by cap ascending) of
    (budget - cum_cap_below) / (n_langs - k + 1) — the standard
    waterfilling identity; alloc_l = min(cap_l, theta). Languages
    whose 2.5-epoch cap sits under the water line are capped (the
    low-resource branch); the rest absorb the redistributed surplus
    (both branches are live at every shipped scale — the 'en'-heavy
    corpus caps the four smaller languages at sf0.01/sf0.1).

    Scale (100 TB): ONE corpus pass to per-language token totals
    (map-side partials into a |langs|-row frame); the waterfilling
    window runs over that |langs|-row frame ONLY — never facts — the
    same bounded-window discipline as `chart_clock_payload`'s slice
    windows. Determinism: integer token counts; caps are exact
    .5-multiples in doubles; theta's division is one IEEE expression
    identical in both engines; outputs ROUND(6)/ROUND(1)/ROUND(0).
    """
    d = _docs(spark, sf_dir)
    totals = (
        d.select(
            "lang",
            F.size(TX.tokenize("text")).cast("long").alias("n_tok"),
        )
        .groupBy("lang")
        .agg(F.sum("n_tok").alias("src_tokens"))
    )
    caps = totals.select(
        "lang",
        "src_tokens",
        (
            F.col("src_tokens").cast("double")
            * UNIMAX_EPOCH_CAP_NUM
            / UNIMAX_EPOCH_CAP_DEN
        ).alias("cap_tokens"),
    )
    g = caps.agg(
        F.sum("src_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    word = Window.orderBy("cap_tokens", "lang")
    wcum = word.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = (
        caps.crossJoin(F.broadcast(g))
        .select(
            "lang",
            "src_tokens",
            "cap_tokens",
            "total_tokens",
            "n_langs",
            F.sum("cap_tokens").over(wcum).alias("cum_cap"),
            F.row_number().over(word).cast("long").alias("k"),
        )
    )
    budget = F.col("total_tokens").cast("double") * UNIMAX_BUDGET_MULT
    cand = ranked.select(
        "*",
        (
            (budget - (F.col("cum_cap") - F.col("cap_tokens")))
            / (F.col("n_langs") - F.col("k") + 1)
        ).alias("theta_cand"),
    )
    theta = cand.agg(F.max("theta_cand").alias("theta"))
    alloc = F.least(F.col("cap_tokens"), F.col("theta"))
    return (
        cand.crossJoin(F.broadcast(theta))
        .select(
            "lang",
            "src_tokens",
            F.round("cap_tokens", 1).alias("cap_tokens"),
            F.round("theta", 6).alias("theta_tokens"),
            F.round(alloc, 0).cast("long").alias("alloc_tokens"),
            F.round(
                alloc / F.col("src_tokens").cast("double"), 6
            ).alias("epochs_served"),
            (F.col("cap_tokens") <= F.col("theta")).alias("is_capped"),
        )
        .orderBy("lang")
    )


UNIMAX_MIXTURE_PLAN_SQL = f"""
WITH per_doc AS (
  SELECT lang,
         CAST(len(string_split({_NORM_SQL}, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
tot AS (
  SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS src_tokens
  FROM per_doc GROUP BY 1
),
caps AS (
  SELECT lang, src_tokens,
         CAST(src_tokens AS DOUBLE) * {UNIMAX_EPOCH_CAP_NUM}
           / {UNIMAX_EPOCH_CAP_DEN} AS cap_tokens
  FROM tot
),
g AS (
  SELECT CAST(SUM(src_tokens) AS BIGINT) AS total_tokens,
         COUNT(*) AS n_langs
  FROM caps
),
ranked AS (
  SELECT lang, src_tokens, cap_tokens, total_tokens, n_langs,
         SUM(cap_tokens) OVER
           (ORDER BY cap_tokens, lang ROWS UNBOUNDED PRECEDING) AS cum_cap,
         ROW_NUMBER() OVER (ORDER BY cap_tokens, lang) AS k
  FROM caps, g
),
cand AS (
  SELECT *,
         (CAST(total_tokens AS DOUBLE) * {UNIMAX_BUDGET_MULT}
          - (cum_cap - cap_tokens)) / (n_langs - k + 1) AS theta_cand
  FROM ranked
),
th AS (SELECT MAX(theta_cand) AS theta FROM cand)
SELECT lang, src_tokens,
       ROUND(cap_tokens, 1) AS cap_tokens,
       ROUND(theta, 6) AS theta_tokens,
       CAST(ROUND(LEAST(cap_tokens, theta), 0) AS BIGINT) AS alloc_tokens,
       ROUND(LEAST(cap_tokens, theta) / src_tokens, 6) AS epochs_served,
       cap_tokens <= theta AS is_capped
FROM cand, th
ORDER BY lang
"""


# ---------------------------------------- source duplication matrix

# The provenance complement of doc-level dedup: WHICH sources mirror
# each other. Crawl pipelines read this before source selection —
# two mirrored sources should not both be upweighted, and a source
# whose docs mostly near-duplicate another adds less than its size
# suggests (the "which dumps overlap" table of every corpus datacard).


def source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level near-duplication matrix over the adjudicated LSH
    pair frame (`_minhash_pair_frame` — banded candidates, exact
    verify, never all-pairs): one row per unordered source cell
    (source_lo <= source_hi) with the link count, the distinct docs
    each side contributes to those links, and the cell's max verified
    Jaccard. Integer counts and a MAX only — no float division
    anywhere, so nothing to round.

    Scale (100 TB): the pair frame is the standing dedup pipeline's
    output (bucket-collision bound); attaching sources is two slim
    hash joins of (doc_id, source) onto the pair endpoints; the
    matrix rollup keys on |sources|^2 cells. The endpoint explode
    doubles pair rows (2 per link) before the rollup — bounded by the
    link count, with n_links recovered exactly as count/2.
    """
    pairs = _minhash_pair_frame(spark, sf_dir)
    d = _docs(spark, sf_dir).select("doc_id", "source")
    lab = (
        pairs.join(
            d.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
            ),
            "doc_a",
        )
        .join(
            d.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
            ),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("source_lo"),
            F.greatest("sa", "sb").alias("source_hi"),
            "sa",
            "sb",
            "doc_a",
            "doc_b",
            "jaccard",
        )
    )
    ends = lab.select(
        "source_lo",
        "source_hi",
        "jaccard",
        F.explode(
            F.array(
                F.struct(
                    F.col("sa").alias("src"), F.col("doc_a").alias("doc")
                ),
                F.struct(
                    F.col("sb").alias("src"), F.col("doc_b").alias("doc")
                ),
            )
        ).alias("e"),
    ).select("source_lo", "source_hi", "jaccard", "e.src", "e.doc")
    return (
        ends.groupBy("source_lo", "source_hi")
        .agg(
            (F.count(F.lit(1)) / 2).cast("long").alias("n_links"),
            F.countDistinct(
                F.when(F.col("src") == F.col("source_lo"), F.col("doc"))
            ).alias("n_docs_lo"),
            F.countDistinct(
                F.when(F.col("src") == F.col("source_hi"), F.col("doc"))
            ).alias("n_docs_hi"),
            F.max("jaccard").alias("max_jaccard"),
        )
        .orderBy("source_lo", "source_hi")
    )


SOURCE_DUP_MATRIX_SQL = f"""
WITH pairs AS ({NEAR_DUP_MINHASH_LSH_SQL}),
lab AS (
  SELECT LEAST(da.source, db.source) AS source_lo,
         GREATEST(da.source, db.source) AS source_hi,
         da.source AS sa, db.source AS sb,
         p.doc_a, p.doc_b, p.jaccard
  FROM pairs p
  JOIN documents da ON p.doc_a = da.doc_id
  JOIN documents db ON p.doc_b = db.doc_id
),
ends AS (
  SELECT source_lo, source_hi, jaccard, sa AS src, doc_a AS doc FROM lab
  UNION ALL
  SELECT source_lo, source_hi, jaccard, sb AS src, doc_b AS doc FROM lab
)
SELECT source_lo, source_hi,
       COUNT(*) // 2 AS n_links,
       COUNT(DISTINCT CASE WHEN src = source_lo THEN doc END) AS n_docs_lo,
       COUNT(DISTINCT CASE WHEN src = source_hi THEN doc END) AS n_docs_hi,
       MAX(jaccard) AS max_jaccard
FROM ends
GROUP BY 1, 2
ORDER BY source_lo, source_hi
"""
