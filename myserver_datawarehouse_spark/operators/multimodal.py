"""Multimodal column plumbing: opaque `binary` payloads with typed
metadata, decoded/feature-extracted via Arrow-batched `mapInPandas`
(SURVEY.md LLM-data-pipeline addendum — the reference is text/SQL only;
this is the image/audio/video column layer a training-data pipeline
needs).

Design:
- Media travels as one `binary` column plus a metadata struct
  (media_type, n_bytes). Spark never interprets the bytes; only the
  Pandas kernel does, one Arrow batch at a time — the schema, partition
  behavior, and batch shape are real and tested.
- REAL decoding (PIL/librosa/ffmpeg) is unavailable in this container:
  `decode_media` is the clearly-marked stub (NotImplementedError unless
  the lib imports). `extract_features` is the production plumbing running
  a deterministic kernel (sizes, md5, type-dependent shape fields) so the
  whole path is differential-testable against a SQL oracle.
- Scale: mapInPandas streams Arrow batches — executor memory is bounded
  by `spark.sql.execution.arrow.maxRecordsPerBatch` x max payload size,
  independent of partition row count. Payload-heavy tables should set
  `maxPartitionBytes` low enough that a partition's blobs fit a task.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

try:  # pragma: no cover - decode libs are absent in this container
    from PIL import Image  # noqa: F401

    _HAVE_PIL = True
except ImportError:
    _HAVE_PIL = False

MEDIA_TYPES = ("image", "audio", "video")

FEATURE_SCHEMA = (
    "doc_id long, media_type string, n_bytes long, payload_md5 string, "
    "width int, height int, sample_rate int, n_frames int"
)


def with_fake_payload(docs: DataFrame) -> DataFrame:
    """Attach a deterministic binary payload + metadata to the documents
    table (UTF-8 bytes of the text stand in for media bytes; media_type
    cycles by doc_id). Real pipelines replace this with a binary-file /
    blob-store read — everything downstream is unchanged."""
    mt = F.element_at(
        F.array(*[F.lit(t) for t in MEDIA_TYPES]),
        (F.col("doc_id") % len(MEDIA_TYPES)).cast("int") + 1,
    )
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        mt.alias("media_type"),
        payload.alias("payload"),
        F.struct(
            mt.alias("media_type"), F.length(payload).alias("n_bytes")
        ).alias("meta"),
    )


def decode_media(payload: bytes, media_type: str):  # pragma: no cover
    """STUB: real decode needs PIL/librosa/ffmpeg, none of which exist in
    this container. The function is the single seam where they plug in."""
    if media_type == "image" and _HAVE_PIL:
        import io

        return Image.open(io.BytesIO(payload))
    raise NotImplementedError(
        f"decoding media_type={media_type!r} requires image/audio libs "
        "not present in this environment"
    )


def _feature_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic per-payload features, vectorized per Arrow batch.

    Shape fields are a seeded fake "decode" (derived from byte length) so
    the pipeline is end-to-end testable; swapping in `decode_media` output
    changes only this kernel's body, not the Spark plan.
    """
    for pdf in batches:
        n = pdf["payload"].map(len)
        md5 = pdf["payload"].map(lambda b: hashlib.md5(bytes(b)).hexdigest())
        is_img = pdf["media_type"] == "image"
        is_aud = pdf["media_type"] == "audio"
        is_vid = pdf["media_type"] == "video"
        out = pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "n_bytes": n.astype("int64"),
                "payload_md5": md5,
                "width": (n % 640 + 1).where(is_img | is_vid).astype("Int32"),
                "height": (n % 480 + 1).where(is_img | is_vid).astype("Int32"),
                "sample_rate": pd.Series(16000, index=pdf.index)
                .where(is_aud)
                .astype("Int32"),
                "n_frames": (n % 16 + 1).where(is_vid).astype("Int32"),
            }
        )
        yield out


def extract_features(media: DataFrame) -> DataFrame:
    """Run the feature kernel over (doc_id, media_type, payload) via
    mapInPandas — the production decode/resize/frame-sample plumbing."""
    return media.select("doc_id", "media_type", "payload").mapInPandas(
        _feature_kernel, schema=FEATURE_SCHEMA
    )


PHASH_BITS = 60
PHASH_WINDOW = 8
PHASH_SCHEMA = "doc_id long, phash long"


# Per-process memo of window-bytes -> histogram bin (guide §4.2/§4.5):
# _phash60 hashes every sliding PHASH_WINDOW-byte block, and real corpus
# bytes repeat blocks heavily (sf0.1 documents: 432k windows, 12.5k
# distinct — measured 3.4x on the kernel loop). The bin is a pure
# function of the window bytes, so memoizing is semantics-free; the dict
# lives per Python worker process (reused across tasks) and stops
# growing at _WIN_CACHE_CAP so an adversarial high-entropy corpus costs
# a bounded ~16 MB, never OOM.
_WIN_CACHE: dict[bytes, int] = {}
_WIN_CACHE_CAP = 1 << 20


def _phash60(bs: bytes) -> int:
    """60-bit block-histogram aHash of a byte buffer — the shared pHash
    primitive (fake decode standing in for an 8x8 luma/DCT grid): every
    sliding PHASH_WINDOW-byte block is binned by the shared hash60 rule
    (md5 -> 15 hex chars -> bigint, mod 60) into a 60-bin
    block-intensity histogram; bit i is 1 iff bin i is above the mean
    bin occupancy (average-hash thresholding, on exact integer
    cross-multiplication so the DuckDB oracle agrees bit-for-bit).
    Sliding blocks are content-aligned: an edit perturbs only the
    ~PHASH_WINDOW blocks that overlap it, so near-identical buffers
    land within a small Hamming ball while unrelated ones sit ~30 bits
    apart."""
    w = PHASH_WINDOW
    n = len(bs) - w + 1
    cnt = [0] * PHASH_BITS
    # int.from_bytes(digest[:8]) >> 4 == int(hexdigest()[:15], 16) —
    # the first 15 hex chars are the first 7.5 bytes; bit-identical to
    # the documented rule, minus the hex-string round trip.
    md5 = hashlib.md5
    cache = _WIN_CACHE
    for j in range(max(n, 0)):
        win = bs[j : j + w]
        b = cache.get(win)
        if b is None:
            b = (
                int.from_bytes(md5(win).digest()[:8], "big") >> 4
            ) % PHASH_BITS
            if len(cache) < _WIN_CACHE_CAP:
                cache[win] = b
        cnt[b] += 1
    h = 0
    for i in range(PHASH_BITS):
        if PHASH_BITS * cnt[i] > n:
            h |= 1 << i
    return h


def _phash_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """60-bit perceptual fingerprint of each image payload (_phash60
    over the whole buffer), one Arrow batch at a time. Swapping in
    decode_media + real pixel blocks changes only the kernel body, not
    the Spark plan around it."""
    for pdf in batches:
        ids, hashes = [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            ids.append(doc_id)
            hashes.append(_phash60(bytes(payload)))
        yield pd.DataFrame(
            {"doc_id": ids, "phash": pd.Series(hashes, dtype="int64")}
        )


def image_phash(media: DataFrame) -> DataFrame:
    """Perceptual hash over image payloads via mapInPandas: one 60-bit
    BIGINT per image, ready for the SimHash chunk-banding machinery
    (operators/text.simhash_chunks / hamming60) — the image arm of the
    near-dup tier."""
    imgs = media.filter(F.col("media_type") == "image")
    return imgs.select("doc_id", "payload").mapInPandas(
        _phash_kernel, schema=PHASH_SCHEMA
    )


FRAME_SCHEMA = "doc_id long, frame_idx int, frame_md5 string"


def _frame_sample_kernel(k: int):
    """Kernel factory: evenly sample k frame indices of each video's fake
    frame count (n_bytes % 16 + 1, matching _feature_kernel) and emit one
    row per sampled frame with a deterministic frame fingerprint
    (md5(payload || idx) stands in for the decoded frame hash)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "frame_md5": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = len(payload) % 16 + 1
                if n_frames == 1:
                    idxs = [0]
                else:
                    idxs = sorted(
                        {i * (n_frames - 1) // (k - 1) for i in range(k)}
                    )
                for idx in idxs:
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(idx)
                    rows["frame_md5"].append(
                        hashlib.md5(bytes(payload) + str(idx).encode()).hexdigest()
                    )
            yield pd.DataFrame(rows)

    return kernel


def sample_frames(media: DataFrame, k: int = 4) -> DataFrame:
    """Frame-sampling plumbing over video payloads via mapInPandas: the
    Spark side (filter to videos, Arrow batching, exploded output schema)
    is real; the decode inside the kernel is the deterministic fake
    (swap in decode_media/ffmpeg for production)."""
    vids = media.filter(F.col("media_type") == "video")
    return vids.select("doc_id", "payload").mapInPandas(
        _frame_sample_kernel(k), schema=FRAME_SCHEMA
    )


FRAME_STRIDE = 64
FRAME_PHASH_SCHEMA = "doc_id long, frame_idx int, fhash long"


def _frame_phash_kernel(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Fixed-stride frame segmentation + per-frame 60-bit pHash: frame i
    of a video is payload bytes [i*FRAME_STRIDE, (i+1)*FRAME_STRIDE)
    (the fake decode standing in for frames at fixed timestamps — a
    real decoder emits a pixel buffer per sampled timestamp and feeds
    it to the same _phash60), hashed with the image kernel's exact
    math. Fixed-BYTE frames, not count-proportional segments: a small
    edit shifts later content by a few bytes, and because _phash60's
    sliding blocks are content-aligned the shifted frame keeps most of
    its block histogram — near-identical videos get frame-wise
    Hamming-close fingerprint sequences even across insertions."""
    for pdf in batches:
        rows: dict[str, list] = {"doc_id": [], "frame_idx": [], "fhash": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            bs = bytes(payload)
            n_frames = max((len(bs) + FRAME_STRIDE - 1) // FRAME_STRIDE, 1)
            for i in range(n_frames):
                rows["doc_id"].append(doc_id)
                rows["frame_idx"].append(i)
                rows["fhash"].append(
                    _phash60(bs[i * FRAME_STRIDE : (i + 1) * FRAME_STRIDE])
                )
        yield pd.DataFrame(
            {
                "doc_id": rows["doc_id"],
                "frame_idx": pd.Series(rows["frame_idx"], dtype="int32"),
                "fhash": pd.Series(rows["fhash"], dtype="int64"),
            }
        )


def frame_phash(media: DataFrame) -> DataFrame:
    """Per-frame perceptual hashes over video payloads via mapInPandas:
    one (doc_id, frame_idx, 60-bit fhash) row per fixed-stride frame,
    ready for the SimHash chunk-banding machinery — the video arm of
    the near-dup tier. The payload never leaves its scan; only the
    ~16-byte fingerprint rows shuffle."""
    vids = media.filter(F.col("media_type") == "video")
    return vids.select("doc_id", "payload").mapInPandas(
        _frame_phash_kernel, schema=FRAME_PHASH_SCHEMA
    )


AUDIO_WINDOW = 96
AUDIO_HOP = 48  # 50% overlap: window = 2 * hop, every byte covered twice
AUDIO_FP_SCHEMA = "doc_id long, seg_idx int, ahash long"


def _audio_fp_kernel(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Overlapped-window audio fingerprinting: segment i of an audio
    payload is bytes [i*AUDIO_HOP, i*AUDIO_HOP + AUDIO_WINDOW) — the
    50%-overlap hop/window framing every spectrogram-based fingerprint
    (Shazam/Chromaprint family) uses, with the byte buffer standing in
    for PCM samples (a real decoder feeds librosa frames to the same
    hash). Each window is hashed by the shared _phash60 block-histogram
    rule, so a splice perturbs only the windows overlapping it while
    the 50% overlap guarantees every edit region is seen by a window
    that ALSO covers stable context on both sides — clip-in-track
    matches survive insertions that fixed-stride (video-style) framing
    would phase-shift away. Segment count: max(ceil(n/hop) - 1, 1)
    (window = 2*hop makes that exact full coverage)."""
    for pdf in batches:
        rows: dict[str, list] = {"doc_id": [], "seg_idx": [], "ahash": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            bs = bytes(payload)
            n_segs = max(-(-len(bs) // AUDIO_HOP) - 1, 1)
            for i in range(n_segs):
                rows["doc_id"].append(doc_id)
                rows["seg_idx"].append(i)
                rows["ahash"].append(
                    _phash60(bs[i * AUDIO_HOP : i * AUDIO_HOP + AUDIO_WINDOW])
                )
        yield pd.DataFrame(
            {
                "doc_id": rows["doc_id"],
                "seg_idx": pd.Series(rows["seg_idx"], dtype="int32"),
                "ahash": pd.Series(rows["ahash"], dtype="int64"),
            }
        )


def audio_fingerprint(media: DataFrame) -> DataFrame:
    """Per-window audio fingerprints via mapInPandas: one (doc_id,
    seg_idx, 60-bit ahash) row per overlapped hop window — the audio
    arm of the near-dup tier, completing the image/audio/video modality
    matrix. The payload never leaves its scan; only ~16-byte
    fingerprint rows shuffle."""
    auds = media.filter(F.col("media_type") == "audio")
    return auds.select("doc_id", "payload").mapInPandas(
        _audio_fp_kernel, schema=AUDIO_FP_SCHEMA
    )


MEDIA_FP_SCHEMA = "doc_id long, modality string, mhash long"


def _media_fp_kernel(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """ALL THREE modality fingerprint kernels in ONE pass, dispatched
    per row on media_type (guide §2.4: the three per-modality kernels
    each filtered a disjoint doc subset out of the same corpus scan,
    so a consumer that needs every modality paid three full corpus
    scans + three job launches for one corpus' worth of Python work).
    Row-for-row identical hashes to image_phash / audio_fingerprint /
    frame_phash — same _phash60, same windowing constants; pinned by
    tests/test_multimodal.py::test_media_fingerprints_matches_per_modality_kernels.
    seg/frame indexes are dropped: every fused-kernel consumer (chunk
    banding, set-coverage verify) uses the hash multiset only."""
    for pdf in batches:
        rows: dict[str, list] = {"doc_id": [], "modality": [], "mhash": []}
        ids, mods, hashes = rows["doc_id"], rows["modality"], rows["mhash"]
        for doc_id, mt, payload in zip(
            pdf["doc_id"], pdf["media_type"], pdf["payload"]
        ):
            bs = bytes(payload)
            if mt == "image":
                ids.append(doc_id)
                mods.append("image")
                hashes.append(_phash60(bs))
            elif mt == "audio":
                n_segs = max(-(-len(bs) // AUDIO_HOP) - 1, 1)
                for i in range(n_segs):
                    ids.append(doc_id)
                    mods.append("audio")
                    hashes.append(
                        _phash60(
                            bs[i * AUDIO_HOP : i * AUDIO_HOP + AUDIO_WINDOW]
                        )
                    )
            else:  # video
                n_frames = max(
                    (len(bs) + FRAME_STRIDE - 1) // FRAME_STRIDE, 1
                )
                for i in range(n_frames):
                    ids.append(doc_id)
                    mods.append("video")
                    hashes.append(
                        _phash60(
                            bs[i * FRAME_STRIDE : (i + 1) * FRAME_STRIDE]
                        )
                    )
        yield pd.DataFrame(
            {
                "doc_id": ids,
                "modality": mods,
                "mhash": pd.Series(hashes, dtype="int64"),
            }
        )


def media_fingerprints(media: DataFrame) -> DataFrame:
    """Every modality's fingerprint rows from ONE corpus pass: (doc_id,
    modality, 60-bit mhash), one row per image / audio hop window /
    video frame — for consumers that need the whole modality matrix
    (cross_modal_curation, the streaming curation ledger), which
    previously ran the three per-modality kernels as three separate
    corpus scans. Single-modality consumers keep the dedicated kernels
    (fusing would triple their scan volume)."""
    return media.select("doc_id", "media_type", "payload").mapInPandas(
        _media_fp_kernel, schema=MEDIA_FP_SCHEMA
    )
