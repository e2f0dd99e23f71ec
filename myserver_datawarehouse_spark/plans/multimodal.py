"""Registry queries for the multimodal column layer: per-payload feature
extraction (mapInPandas) and a per-type rollup, both with exact DuckDB
oracles (the fake-decode fields are deterministic functions of byte
length, so the Arrow kernel and the SQL twin agree bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from myserver_datawarehouse_spark.operators import multimodal as MM
from myserver_datawarehouse_spark.operators import text as TX
from myserver_datawarehouse_spark.sources.tables import load_table

_MT_CASE = (
    "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"
)


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload -> typed feature row through the real mapInPandas
    plumbing (operators/multimodal.py). The oracle recomputes every
    feature relationally: md5(text) over UTF-8 bytes equals the kernel's
    hashlib.md5(payload)."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.with_fake_payload(docs)
    feats = MM.extract_features(media)
    # Output edge: nullable ints become NaN floats through the Arrow/pandas
    # bridge the correctness harness rides on — emit -1 sentinels instead
    # (mirrored in the oracle); the operator layer keeps real NULLs.
    return feats.select(
        "doc_id",
        "media_type",
        "n_bytes",
        "payload_md5",
        *[
            F.coalesce(F.col(c), F.lit(-1)).alias(c)
            for c in ("width", "height", "sample_rate", "n_frames")
        ],
    ).orderBy("doc_id")


MULTIMODAL_FEATURES_SQL = f"""
WITH m AS (
  SELECT doc_id, {_MT_CASE} AS media_type,
         octet_length(encode(text)) AS n_bytes,
         md5(text) AS payload_md5
  FROM documents
)
SELECT doc_id, media_type, n_bytes, payload_md5,
       COALESCE(CASE WHEN media_type IN ('image', 'video')
                     THEN CAST(n_bytes % 640 + 1 AS INT) END, -1) AS width,
       COALESCE(CASE WHEN media_type IN ('image', 'video')
                     THEN CAST(n_bytes % 480 + 1 AS INT) END, -1) AS height,
       COALESCE(CASE WHEN media_type = 'audio' THEN 16000 END, -1)
         AS sample_rate,
       COALESCE(CASE WHEN media_type = 'video'
                     THEN CAST(n_bytes % 16 + 1 AS INT) END, -1) AS n_frames
FROM m
ORDER BY doc_id
"""


def multimodal_type_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile per media type over the extracted features — the
    post-extraction aggregate a curation pipeline runs (count, byte
    volume, shape extrema)."""
    docs = load_table(spark, sf_dir, "documents")
    feats = MM.extract_features(MM.with_fake_payload(docs))
    return (
        feats.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("n_bytes").alias("total_bytes"),
            F.max("n_bytes").alias("max_bytes"),
            F.coalesce(F.min("width"), F.lit(-1)).alias("min_width"),
            F.coalesce(F.max("height"), F.lit(-1)).alias("max_height"),
            F.countDistinct("payload_md5").alias("n_distinct_payloads"),
        )
        .orderBy("media_type")
    )


MULTIMODAL_TYPE_ROLLUP_SQL = f"""
WITH m AS (
  SELECT doc_id, {_MT_CASE} AS media_type,
         octet_length(encode(text)) AS n_bytes,
         md5(text) AS payload_md5
  FROM documents
)
SELECT media_type,
       COUNT(*) AS n_items,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       MAX(n_bytes) AS max_bytes,
       COALESCE(MIN(CASE WHEN media_type IN ('image', 'video')
                          THEN CAST(n_bytes % 640 + 1 AS INT) END), -1)
         AS min_width,
       COALESCE(MAX(CASE WHEN media_type IN ('image', 'video')
                          THEN CAST(n_bytes % 480 + 1 AS INT) END), -1)
         AS max_height,
       COUNT(DISTINCT payload_md5) AS n_distinct_payloads
FROM m
GROUP BY 1
ORDER BY media_type
"""


PHASH_CHUNKS = 4
PHASH_HAMMING_MAX = PHASH_CHUNKS - 1  # pigeonhole-complete radius


def _banded_pairs(fp: DataFrame, hash_col: str, *carry: str) -> DataFrame:
    """The filter step of every media near-dup arm: each 60-bit hash
    of `fp` (doc_id, hash_col, ...) banded into PHASH_CHUNKS 15-bit
    chunks (operators/text.simhash_chunks), and the oriented `a`/`b`
    self-join on a shared (chunk_idx, chunk_value) bucket
    (operators/text.doc_pairs). `carry` columns ride along to the
    verify."""
    chunks = fp.select(
        "doc_id",
        *carry,
        F.posexplode(TX.simhash_chunks(hash_col, PHASH_CHUNKS)).alias(
            "c", "cv"
        ),
    )
    return TX.doc_pairs(chunks, "c", "cv")


def _with_survivor(pairs: DataFrame) -> DataFrame:
    """The verified pairs plus the survivor pick (min doc_id among each
    retired doc's matches), in (doc_a, doc_b) order."""
    return pairs.select(
        "*", F.min("doc_a").over(Window.partitionBy("doc_b")).alias("survivor")
    ).orderBy("doc_a", "doc_b")


def _image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-banded pHash candidate pairs with exact Hamming verify —
    shared by `near_dup_image_phash` (its presentation surface) and,
    via `_image_phash_pairs_from`, `cross_modal_curation` (the image
    edge set over the fused one-pass fingerprint frame)."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.with_fake_payload(docs)
    return _image_phash_pairs_from(MM.image_phash(media))


def _image_phash_pairs_from(ph: DataFrame) -> DataFrame:
    """The image pair plan over any (doc_id, phash) frame. `ph` is
    consumed by both sides of the bucket self-join — pass a
    materialized/reusable frame when recomputing it is expensive."""
    return (
        _banded_pairs(ph, "phash", "phash")
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            TX.hamming60(F.col("a.phash"), F.col("b.phash")).alias(
                "hamming"
            ),
        )
        .distinct()
        .filter(F.col("hamming") <= PHASH_HAMMING_MAX)
    )


def near_dup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection over image payloads —
    the image arm of the dedup tier (text has exact/MinHash/SimHash/
    prefix-filter; this gives binary media the same capability).

    Pipeline: binary payload -> 60-bit block-histogram aHash in the
    mapInPandas kernel (operators/multimodal.image_phash) -> 4x15-bit
    chunk banding (operators/text.simhash_chunks — the SimHash band
    machinery reused verbatim) -> equi-join on (chunk_idx, chunk_value)
    -> exact Hamming verify <= 3 (pigeonhole-complete for that radius)
    -> survivor pick (min doc_id among each retired doc's matches).

    At 100 TB: candidates come ONLY from shared 15-bit buckets
    (corpus/32768 expected fan-out per chunk), never an all-pairs or a
    payload shuffle — the payload never leaves its scan; only the
    8-byte (doc_id, phash) pairs move.
    """
    return _with_survivor(_image_phash_pairs(spark, sf_dir))


_PHASH_W = MM.PHASH_WINDOW
_PHASH_CHUNK_W = TX.SIMHASH_BITS // PHASH_CHUNKS
_PHASH_CHUNK_MASK = (1 << _PHASH_CHUNK_W) - 1

NEAR_DUP_IMAGE_PHASH_SQL = f"""
WITH img AS (
  SELECT doc_id, text, length(text) - {_PHASH_W} + 1 AS n
  FROM documents WHERE doc_id % 3 = 0
),
bins AS (
  SELECT doc_id, n,
         [CAST(('0x' || substring(md5(substring(text, j, {_PHASH_W})), 1, 15))::BIGINT
               % {MM.PHASH_BITS} AS INT)
          FOR j IN generate_series(1, n)] AS bs
  FROM img
),
ph AS (
  SELECT doc_id,
         CAST(list_sum(
           [CASE WHEN {MM.PHASH_BITS} * len(list_filter(bs, b -> b = i)) > n
                 THEN (1::BIGINT << i) ELSE 0::BIGINT END
            FOR i IN generate_series(0, {MM.PHASH_BITS - 1})]) AS BIGINT)
           AS phash
  FROM bins
),
chunks AS (
  SELECT doc_id, phash, c,
         CAST((phash >> (c * {_PHASH_CHUNK_W})) & {_PHASH_CHUNK_MASK} AS INT)
           AS cv
  FROM ph, LATERAL unnest(generate_series(0, {PHASH_CHUNKS - 1})) AS u(c)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.phash, b.phash)) AS hamming
  FROM chunks a
  JOIN chunks b ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming,
       MIN(doc_a) OVER (PARTITION BY doc_b) AS survivor
FROM pairs
WHERE hamming <= {PHASH_HAMMING_MAX}
ORDER BY doc_a, doc_b
"""


VIDEO_HAMMING_MAX = PHASH_HAMMING_MAX  # per-frame radius, same pigeonhole
# (hash column, set-size column, radius, cover) of `_set_verified_pairs`
_VIDEO_SET_RULE = ("fhash", "n_frames", VIDEO_HAMMING_MAX, F.greatest)


def near_dup_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-set near-duplicate detection over video payloads — the
    video arm completing the dedup matrix (text: exact/MinHash/SimHash/
    prefix-filter/spans; image: pHash; video: this).

    Pipeline: video payload -> fixed-stride frame segmentation + one
    60-bit pHash per frame in a mapInPandas kernel (operators/
    multimodal.frame_phash — the ffmpeg decode is the stubbed seam;
    the fingerprint math is the image kernel's, reused on frame bytes)
    -> 4x15-bit chunk banding of EVERY frame hash (operators/text.
    simhash_chunks, the SimHash band machinery reused verbatim) ->
    candidate videos = pairs sharing any (chunk_idx, chunk_value)
    bucket -> frame-set overlap verify: a frame of A matches if some
    frame of B is within Hamming {VIDEO_HAMMING_MAX} (array-local
    higher-order functions over the collected per-video fingerprint
    arrays — JVM codegen, no per-frame join), keep pairs where matched
    frames cover >= half of max(|A|,|B|) (integer cross-multiplication,
    no float compare) -> survivor pick (min doc_id among each retired
    video's matches).

    At 100 TB of video: pixels NEVER shuffle — the network moves
    ~16-byte (doc_id, frame_idx, fhash) rows; candidates come only
    from shared 15-bit buckets (corpus_frames/32768 expected fan-out
    per chunk), never all-pairs; the verify touches fingerprint arrays
    of candidate pairs only (k frames x 8 bytes each — production caps
    k by sampling timestamps, the sample_frames machinery). A banded
    frame bucket with f frames emits O(f^2) candidate rows, the same
    skew envelope as the SimHash/LSH text tiers."""
    return _with_survivor(_video_frame_pairs(spark, sf_dir))


def _video_frame_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified frame-set near-dup pairs (doc_a, doc_b, matched,
    n_frames_a, n_frames_b) frame — shared by `near_dup_video_frames`
    (its presentation surface, which adds the survivor pick) and
    `cross_modal_curation` (the video edge set)."""
    from myserver_datawarehouse_spark.session import materialize

    docs = load_table(spark, sf_dir, "documents")
    media = MM.with_fake_payload(docs)
    # materialize: the fingerprint frame feeds the chunk explode AND
    # the per-video set aggregate — without the cut the payload scan +
    # pHash kernel execute twice.
    return _set_verified_pairs(
        materialize(MM.frame_phash(media)), *_VIDEO_SET_RULE
    )


def _set_verified_pairs(
    fp: DataFrame, hash_col: str, n_col: str, radius: int, cover
) -> DataFrame:
    """The set-verify media arm over any reusable (doc_id, hash_col)
    frame of per-frame or per-window hashes — callers materialize `fp`
    (it feeds the chunk explode AND the per-doc set aggregate).
    Candidate docs share a band (`_banded_pairs`); a hash of doc_a
    matches if some hash of doc_b is within Hamming `radius`
    (array-local higher-order functions, no per-hash join), and a pair
    is kept when the matched count covers half of `cover` (F.greatest:
    video coverage; F.least: audio containment) of the two set sizes
    `n_col`_a, `n_col`_b."""
    cand = (
        _banded_pairs(fp, hash_col)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    hashes = hash_col + "es"
    sets = fp.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(hash_col)).alias(hashes),
        F.count(F.lit(1)).alias(n_col),
    )
    sa, sb = sets.alias("sa"), sets.alias("sb")
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.size(
                F.filter(
                    F.col(f"sa.{hashes}"),
                    lambda x: F.exists(
                        F.col(f"sb.{hashes}"),
                        lambda y: TX.hamming60(x, y) <= F.lit(radius),
                    ),
                )
            ).alias("matched"),
            F.col(f"sa.{n_col}").alias(f"{n_col}_a"),
            F.col(f"sb.{n_col}").alias(f"{n_col}_b"),
        )
        .filter(
            F.col("matched") * 2
            >= cover(F.col(f"{n_col}_a"), F.col(f"{n_col}_b"))
        )
    )


near_dup_video_frames.__doc__ = near_dup_video_frames.__doc__.replace(
    "{VIDEO_HAMMING_MAX}", str(VIDEO_HAMMING_MAX)
)

_FSTRIDE = MM.FRAME_STRIDE

NEAR_DUP_VIDEO_FRAMES_SQL = f"""
WITH vid AS (
  SELECT doc_id, text, length(text) AS n
  FROM documents WHERE doc_id % 3 = 2
),
fr AS (
  SELECT doc_id,
         substring(text, i * {_FSTRIDE} + 1, {_FSTRIDE}) AS seg
  FROM vid, LATERAL unnest(generate_series(
    0, GREATEST(CAST(CEIL(n / {_FSTRIDE}.0) AS INT), 1) - 1)) AS u(i)
),
bins AS (
  SELECT doc_id, seg, length(seg) - {_PHASH_W} + 1 AS n,
         [CAST(('0x' || substring(md5(substring(seg, j, {_PHASH_W})), 1, 15))::BIGINT
               % {MM.PHASH_BITS} AS INT)
          FOR j IN generate_series(1, length(seg) - {_PHASH_W} + 1)] AS bs
  FROM fr
),
fh AS (
  SELECT doc_id,
         CAST(list_sum(
           [CASE WHEN {MM.PHASH_BITS} * len(list_filter(bs, b -> b = i)) > n
                 THEN (1::BIGINT << i) ELSE 0::BIGINT END
            FOR i IN generate_series(0, {MM.PHASH_BITS - 1})]) AS BIGINT)
           AS fhash
  FROM bins
),
chunks AS (
  SELECT doc_id, c,
         CAST((fhash >> (c * {_PHASH_CHUNK_W})) & {_PHASH_CHUNK_MASK} AS INT)
           AS cv
  FROM fh, LATERAL unnest(generate_series(0, {PHASH_CHUNKS - 1})) AS u(c)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM chunks a
  JOIN chunks b ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id
),
sets AS (
  SELECT doc_id, list_sort(list(fhash)) AS fhs, COUNT(*) AS n_frames
  FROM fh GROUP BY doc_id
),
ver AS (
  SELECT doc_a, doc_b,
         CAST(len(list_filter(sa.fhs,
           x -> len(list_filter(sb.fhs,
                  y -> bit_count(xor(x, y)) <= {VIDEO_HAMMING_MAX})) > 0))
           AS INT) AS matched,
         sa.n_frames AS n_frames_a, sb.n_frames AS n_frames_b
  FROM cand
  JOIN sets sa ON sa.doc_id = doc_a
  JOIN sets sb ON sb.doc_id = doc_b
)
SELECT doc_a, doc_b, matched, n_frames_a, n_frames_b,
       MIN(doc_a) OVER (PARTITION BY doc_b) AS survivor
FROM ver
WHERE 2 * matched >= GREATEST(n_frames_a, n_frames_b)
ORDER BY doc_a, doc_b
"""


AUDIO_HAMMING_MAX = PHASH_HAMMING_MAX  # per-window radius, same pigeonhole
_AUDIO_SET_RULE = ("ahash", "n_segs", AUDIO_HAMMING_MAX, F.least)
CLIP_ID_OFFSET = 9_999_999  # ≡ 0 (mod 3): a clip keeps its track's class
CLIP_EVERY = 30  # clip every 10th audio doc (doc_id % 30 == 1)
CLIP_START = MM.AUDIO_HOP  # hop-aligned: clip windows == track windows
CLIP_LEN = 4 * MM.AUDIO_HOP
CLIP_MIN_TRACK = CLIP_START + CLIP_LEN + 1  # clip strictly interior


def near_dup_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapped-window audio fingerprint near-dup — the audio arm
    completing the modality matrix (text: exact/MinHash/SimHash/
    prefix-filter/spans; image: pHash; video: frame sets; audio: this).

    Corpus: the audio-payload docs PLUS a deterministic in-plan clip
    fixture (the ann_nprobe_clustered pattern — no rand()): every
    CLIP_EVERY-th audio doc long enough to contain one contributes a
    hop-ALIGNED interior clip (payload bytes [CLIP_START,
    CLIP_START+CLIP_LEN), id + CLIP_ID_OFFSET), so the clip's windows
    coincide byte-for-byte with interior track windows — guaranteed
    true clip-in-track positives at every SF exercising exactly the
    containment semantics (the raw fixture has zero intra-audio-class
    near-dups below sf0.1; the oracle derives the identical clips).

    Pipeline: audio payload -> 50%-overlap hop windows, one 60-bit
    fingerprint per window in a mapInPandas kernel (operators/
    multimodal.audio_fingerprint — the librosa/PCM decode is the
    stubbed seam; the hash math is the shared _phash60 block-histogram
    rule) -> 4x15-bit chunk banding of EVERY window hash (operators/
    text.simhash_chunks, the SimHash band machinery reused verbatim)
    -> candidate tracks = pairs sharing any (chunk_idx, chunk_value)
    bucket -> window-set CONTAINMENT verify: window x of A matches if
    some window of B is within Hamming {AUDIO_HAMMING_MAX} (array-local
    higher-order functions over the collected per-track fingerprint
    arrays — JVM codegen, no per-window join), keep pairs where matched
    windows cover >= half of MIN(|A|,|B|) — min, not the video arm's
    max: a short clip contained in a longer track is an audio dup even
    though it covers little of the track (clip-detection semantics; the
    max rule would wrongly clear clips of long tracks) — all on integer
    cross-multiplication -> survivor pick (min doc_id among each
    retired track's matches).

    At 100 TB of audio: PCM never shuffles — the network moves ~16-byte
    (doc_id, seg_idx, ahash) rows; candidates come only from shared
    15-bit buckets (corpus_windows/32768 expected fan-out per chunk),
    never all-pairs; the verify touches fingerprint arrays of candidate
    pairs only (production caps windows/track by hop-rate choice). The
    oracle recomputes clips, windows, hashes, banding, and the
    containment rule relationally."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")
    clips = docs.filter(
        (F.col("doc_id") % CLIP_EVERY == 1)
        & (F.length("text") >= CLIP_MIN_TRACK)
    ).select(
        (F.col("doc_id") + F.lit(CLIP_ID_OFFSET)).alias("doc_id"),
        F.substring("text", CLIP_START + 1, CLIP_LEN).alias("text"),
    )
    media = MM.with_fake_payload(base.unionAll(clips))
    return _with_survivor(_audio_fingerprint_pairs(media))


def _audio_fingerprint_pairs(media) -> DataFrame:
    """Verified window-set CONTAINMENT pairs (doc_a, doc_b, matched,
    n_segs_a, n_segs_b) over any media frame — shared by
    `near_dup_audio_fingerprint` (its presentation surface, over the
    clip-augmented corpus) and `cross_modal_curation` (the audio edge
    set over the raw corpus)."""
    from myserver_datawarehouse_spark.session import materialize

    # materialize: the fingerprint frame feeds the chunk explode AND
    # the per-track set aggregate — without the cut the payload scan +
    # fingerprint kernel execute twice.
    return _set_verified_pairs(
        materialize(MM.audio_fingerprint(media)), *_AUDIO_SET_RULE
    )


near_dup_audio_fingerprint.__doc__ = near_dup_audio_fingerprint.__doc__.replace(
    "{AUDIO_HAMMING_MAX}", str(AUDIO_HAMMING_MAX)
)

_AHOP = MM.AUDIO_HOP
_AWIN = MM.AUDIO_WINDOW

def _audio_pair_sql(raw_sql: str) -> str:
    """The audio pair-pipeline oracle parameterized over its raw
    (doc_id, text) corpus - one source for the window/hash/banding/
    containment SQL, rendered for the clip-augmented near-dup query
    and for cross_modal_curation's clip-free audio edge set."""
    return f"""
WITH raw AS ({raw_sql}),
aud AS (
  SELECT doc_id, text, length(text) AS n FROM raw
),
seg AS (
  SELECT doc_id,
         substring(text, i * {_AHOP} + 1, {_AWIN}) AS seg
  FROM aud, LATERAL unnest(generate_series(
    0, GREATEST(CAST(CEIL(n / {_AHOP}.0) AS INT) - 1, 1) - 1)) AS u(i)
),
bins AS (
  SELECT doc_id, seg, length(seg) - {_PHASH_W} + 1 AS n,
         [CAST(('0x' || substring(md5(substring(seg, j, {_PHASH_W})), 1, 15))::BIGINT
               % {MM.PHASH_BITS} AS INT)
          FOR j IN generate_series(1, length(seg) - {_PHASH_W} + 1)] AS bs
  FROM seg
),
ah AS (
  SELECT doc_id,
         CAST(list_sum(
           [CASE WHEN {MM.PHASH_BITS} * len(list_filter(bs, b -> b = i)) > n
                 THEN (1::BIGINT << i) ELSE 0::BIGINT END
            FOR i IN generate_series(0, {MM.PHASH_BITS - 1})]) AS BIGINT)
           AS ahash
  FROM bins
),
chunks AS (
  SELECT doc_id, c,
         CAST((ahash >> (c * {_PHASH_CHUNK_W})) & {_PHASH_CHUNK_MASK} AS INT)
           AS cv
  FROM ah, LATERAL unnest(generate_series(0, {PHASH_CHUNKS - 1})) AS u(c)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM chunks a
  JOIN chunks b ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id
),
sets AS (
  SELECT doc_id, list_sort(list(ahash)) AS ahs, COUNT(*) AS n_segs
  FROM ah GROUP BY doc_id
),
ver AS (
  SELECT doc_a, doc_b,
         CAST(len(list_filter(sa.ahs,
           x -> len(list_filter(sb.ahs,
                  y -> bit_count(xor(x, y)) <= {AUDIO_HAMMING_MAX})) > 0))
           AS INT) AS matched,
         sa.n_segs AS n_segs_a, sb.n_segs AS n_segs_b
  FROM cand
  JOIN sets sa ON sa.doc_id = doc_a
  JOIN sets sb ON sb.doc_id = doc_b
)
SELECT doc_a, doc_b, matched, n_segs_a, n_segs_b,
       MIN(doc_a) OVER (PARTITION BY doc_b) AS survivor
FROM ver
WHERE 2 * matched >= LEAST(n_segs_a, n_segs_b)
ORDER BY doc_a, doc_b
"""


_AUDIO_RAW_CLIPPED_SQL = f"""
  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1
  UNION ALL
  SELECT doc_id + {CLIP_ID_OFFSET} AS doc_id,
         substring(text, {CLIP_START + 1}, {CLIP_LEN}) AS text
  FROM documents
  WHERE doc_id % {CLIP_EVERY} = 1 AND length(text) >= {CLIP_MIN_TRACK}
"""

NEAR_DUP_AUDIO_FINGERPRINT_SQL = _audio_pair_sql(_AUDIO_RAW_CLIPPED_SQL)


FRAME_K = 4


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over video payloads: k={FRAME_K} evenly spaced
    indices of each fake frame count, one output row per sampled frame
    with its deterministic fingerprint (operators/multimodal.sample_frames
    — mapInPandas; the ffmpeg decode is the stubbed seam)."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.with_fake_payload(docs)
    return MM.sample_frames(media, FRAME_K).orderBy("doc_id", "frame_idx")


MULTIMODAL_FRAME_SAMPLE_SQL = f"""
WITH v AS (
  SELECT doc_id, text,
         octet_length(encode(text)) % 16 + 1 AS n_frames
  FROM documents
  WHERE {_MT_CASE} = 'video'
),
idx AS (
  SELECT DISTINCT doc_id, text,
         CASE WHEN n_frames = 1 THEN 0
              ELSE (i * (n_frames - 1)) // {FRAME_K - 1} END AS frame_idx
  FROM v, LATERAL unnest(generate_series(0, {FRAME_K - 1})) AS u(i)
)
SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
       md5(text || CAST(frame_idx AS VARCHAR)) AS frame_md5
FROM idx
ORDER BY doc_id, frame_idx
"""


def cross_modal_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal JOINT curation over the FULL corpus — the keep/drop
    contract a multimodal corpus build runs nightly, now spanning text
    plus ALL THREE media arms: a document is retired if its text is a
    near-duplicate (MinHash-LSH pair graph, plans/llm_text.
    _minhash_pair_frame), its image is a near-duplicate (chunk-banded
    pHash pair graph, _image_phash_pairs), its audio is a
    clip/track near-duplicate (window-set containment pairs,
    _audio_fingerprint_pairs — over the RAW audio corpus, no clip
    fixture: the curation judges real documents only), or its video is
    a frame-set near-duplicate (_video_frame_pairs). The four edge
    sets are UNIONED and closed transitively (min-label connected
    components, plans/llm_text._cc_min_labels — so a text-dup of an
    image-dup of a video-dup collapses into ONE surviving doc even
    though no single modality linked the endpoints; text edges are the
    cross-modal bridges, since every doc has text but only its own
    payload type), survivor = min doc_id of the union cluster, and
    every drop carries a provenance column naming the modalities whose
    evidence touches it ('text', 'image', 'audio', 'video', or
    '+'-joined combinations like 'text+image').

    Scope: the whole documents table — every doc carries exactly one
    media payload type (doc_id % 3: image/audio/video), so the media
    verdict always exists alongside the text verdict. (At small SFs
    the raw fixture has no intra-audio near-dups, so the 'audio'
    provenance appears from sf0.1 up — deterministically identical in
    the oracle either way.)

    At 100 TB: all four edge sets come from banded candidate joins
    (never all-pairs, payloads never shuffle), the CC iterates over
    the EDGE set only (docs with >= 1 dup pair — orders of magnitude
    smaller than the corpus), and the provenance join is a broadcast
    of the per-modality endpoint sets. The oracle recomputes all FOUR
    pair graphs, the recursive closure, and the provenance labels."""
    from myserver_datawarehouse_spark.plans import llm_text as LTX
    from myserver_datawarehouse_spark.session import materialize

    docs = LTX._docs(spark, sf_dir)
    tpairs = LTX._minhash_pairs_for(docs).select("doc_a", "doc_b")
    # ONE fused fingerprint pass over the corpus for all three media
    # arms: the per-modality kernels each scanned
    # the full corpus to fingerprint their disjoint doc_id % 3 subset —
    # three Python corpus passes (the image one twice, unmaterialized on
    # both self-join sides) for one corpus' worth of kernel work. The
    # fused frame is materialized once; each arm's pair plan reads its
    # modality slice of the checkpoint. Hashes are row-identical to the
    # per-modality kernels (pinned in tests/test_multimodal.py).
    fp = materialize(
        MM.media_fingerprints(
            MM.with_fake_payload(docs.select("doc_id", "text"))
        )
    )
    ipairs = _image_phash_pairs_from(
        fp.filter(F.col("modality") == "image").select(
            "doc_id", F.col("mhash").alias("phash")
        )
    ).select("doc_a", "doc_b")
    apairs = _set_verified_pairs(
        fp.filter(F.col("modality") == "audio").select(
            "doc_id", F.col("mhash").alias("ahash")
        ),
        *_AUDIO_SET_RULE,
    ).select("doc_a", "doc_b")
    vpairs = _set_verified_pairs(
        fp.filter(F.col("modality") == "video").select(
            "doc_id", F.col("mhash").alias("fhash")
        ),
        *_VIDEO_SET_RULE,
    ).select("doc_a", "doc_b")
    edges = tpairs.union(ipairs).union(apairs).union(vpairs).distinct()
    labels = LTX._cc_min_labels(edges)
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_members")
    )

    def endpoints(pairs: DataFrame, flag: str) -> DataFrame:
        return (
            pairs.select(F.col("doc_a").alias("doc_id"))
            .union(pairs.select(F.col("doc_b").alias("doc_id")))
            .distinct()
            .withColumn(flag, F.lit(True))
        )

    tdocs = endpoints(tpairs, "in_text")
    idocs = endpoints(ipairs, "in_image")
    adocs = endpoints(apairs, "in_audio")
    vdocs = endpoints(vpairs, "in_video")
    return (
        labels.join(F.broadcast(sizes), "label")
        .join(F.broadcast(tdocs), "doc_id", "left")
        .join(F.broadcast(idocs), "doc_id", "left")
        .join(F.broadcast(adocs), "doc_id", "left")
        .join(F.broadcast(vdocs), "doc_id", "left")
        .select(
            "doc_id",
            F.col("label").alias("cluster_id"),
            "n_members",
            F.when(F.col("doc_id") == F.col("label"), "keep")
            .otherwise("drop")
            .alias("verdict"),
            F.when(F.col("doc_id") == F.col("label"), "none")
            .otherwise(
                F.concat_ws(
                    "+",
                    F.when(F.col("in_text").isNotNull(), "text"),
                    F.when(F.col("in_image").isNotNull(), "image"),
                    F.when(F.col("in_audio").isNotNull(), "audio"),
                    F.when(F.col("in_video").isNotNull(), "video"),
                )
            )
            .alias("retired_by"),
        )
        .orderBy("doc_id")
    )


def _cross_modal_curation_sql() -> str:
    from myserver_datawarehouse_spark.plans import llm_text as LTX

    audio_src = _audio_pair_sql(
        "SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1"
    )
    return f"""
WITH RECURSIVE tsrc AS ({LTX.NEAR_DUP_MINHASH_LSH_SQL}),
isrc AS ({NEAR_DUP_IMAGE_PHASH_SQL}),
asrc AS ({audio_src}),
vsrc AS ({NEAR_DUP_VIDEO_FRAMES_SQL}),
tpairs AS (SELECT doc_a, doc_b FROM tsrc),
ipairs AS (SELECT doc_a, doc_b FROM isrc),
apairs AS (SELECT doc_a, doc_b FROM asrc),
vpairs AS (SELECT doc_a, doc_b FROM vsrc),
upairs AS (
  SELECT doc_a, doc_b FROM tpairs
  UNION
  SELECT doc_a, doc_b FROM ipairs
  UNION
  SELECT doc_a, doc_b FROM apairs
  UNION
  SELECT doc_a, doc_b FROM vpairs
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM upairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM upairs
),
reach AS (
  SELECT DISTINCT src AS doc_id, src AS label FROM edges
  UNION
  SELECT e.dst AS doc_id, r.label
  FROM reach r JOIN edges e ON e.src = r.doc_id
),
members AS (
  SELECT doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc_id
),
sizes AS (
  SELECT cluster_id, COUNT(*) AS n_members FROM members GROUP BY 1
),
tdocs AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM tpairs
    UNION ALL SELECT doc_b FROM tpairs)
),
idocs AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM ipairs
    UNION ALL SELECT doc_b FROM ipairs)
),
adocs AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM apairs
    UNION ALL SELECT doc_b FROM apairs)
),
vdocs AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM vpairs
    UNION ALL SELECT doc_b FROM vpairs)
)
SELECT m.doc_id, m.cluster_id, s.n_members,
       CASE WHEN m.doc_id = m.cluster_id THEN 'keep'
            ELSE 'drop' END AS verdict,
       CASE WHEN m.doc_id = m.cluster_id THEN 'none'
            ELSE concat_ws('+',
                   CASE WHEN t.doc_id IS NOT NULL THEN 'text' END,
                   CASE WHEN i.doc_id IS NOT NULL THEN 'image' END,
                   CASE WHEN a.doc_id IS NOT NULL THEN 'audio' END,
                   CASE WHEN v.doc_id IS NOT NULL THEN 'video' END)
       END AS retired_by
FROM members m
JOIN sizes s USING (cluster_id)
LEFT JOIN tdocs t ON t.doc_id = m.doc_id
LEFT JOIN idocs i ON i.doc_id = m.doc_id
LEFT JOIN adocs a ON a.doc_id = m.doc_id
LEFT JOIN vdocs v ON v.doc_id = m.doc_id
ORDER BY m.doc_id
"""


CROSS_MODAL_CURATION_SQL = _cross_modal_curation_sql()
