"""Multimodal plumbing: payload/meta schema, mapInPandas feature kernel,
decode stub gating (operators/multimodal.py)."""

import hashlib

import pytest

from myserver_datawarehouse_spark.operators import multimodal as MM


def docs(spark):
    return spark.createDataFrame(
        [(0, "alpha"), (1, "bravo charlie"), (2, "delta")],
        "doc_id long, text string",
    )


def test_payload_schema_and_media_type_cycle(spark):
    m = MM.with_fake_payload(docs(spark))
    assert dict(m.dtypes)["payload"] == "binary"
    assert dict(m.dtypes)["meta"].startswith("struct<media_type:string,n_bytes:int")
    got = {r.doc_id: r for r in m.collect()}
    assert [got[i].media_type for i in range(3)] == ["image", "audio", "video"]
    assert bytes(got[0].payload) == b"alpha"
    assert got[1].meta.n_bytes == len(b"bravo charlie")


def test_feature_kernel_values(spark):
    feats = {
        r.doc_id: r
        for r in MM.extract_features(MM.with_fake_payload(docs(spark))).collect()
    }
    assert feats[0].payload_md5 == hashlib.md5(b"alpha").hexdigest()
    assert feats[0].width == 5 % 640 + 1 and feats[0].height == 5 % 480 + 1
    assert feats[0].sample_rate is None and feats[0].n_frames is None
    assert feats[1].sample_rate == 16000 and feats[1].width is None
    assert feats[2].n_frames == 5 % 16 + 1


def test_decode_stub_raises_without_libs():
    if MM._HAVE_PIL:
        pytest.skip("PIL present; stub path not reachable")
    with pytest.raises(NotImplementedError):
        MM.decode_media(b"xx", "image")
    with pytest.raises(NotImplementedError):
        MM.decode_media(b"xx", "audio")


def test_sample_frames_even_spacing(spark):
    from myserver_datawarehouse_spark.operators import multimodal as MM
    import hashlib

    # payload of 25 bytes -> n_frames = 25 % 16 + 1 = 10; k=4 evenly
    # spaced over [0, 9] -> {0, 3, 6, 9}
    media = spark.createDataFrame(
        [(1, "video", b"x" * 25), (2, "image", b"y" * 25)],
        "doc_id long, media_type string, payload binary",
    )
    rows = MM.sample_frames(media, 4).collect()
    assert {r.doc_id for r in rows} == {1}  # images filtered out
    assert sorted(r.frame_idx for r in rows) == [0, 3, 6, 9]
    want = hashlib.md5(b"x" * 25 + b"0").hexdigest()
    assert {r.frame_md5 for r in rows if r.frame_idx == 0} == {want}


def test_sample_frames_single_frame(spark):
    from myserver_datawarehouse_spark.operators import multimodal as MM

    # 16 bytes -> n_frames = 16 % 16 + 1 = 1 -> only index 0
    media = spark.createDataFrame(
        [(1, "video", b"z" * 16)], "doc_id long, media_type string, payload binary"
    )
    rows = MM.sample_frames(media, 4).collect()
    assert [(r.doc_id, r.frame_idx) for r in rows] == [(1, 0)]


def test_media_fingerprints_matches_per_modality_kernels(spark):
    """The fused one-pass kernel (r15) must emit hash-for-hash the same
    fingerprint multisets as the three per-modality kernels it replaces
    (image_phash / audio_fingerprint / frame_phash) — the equivalence
    the curation consumers' one-scan restructure rests on."""
    wide = spark.createDataFrame(
        [(i, f"payload text number {i} " * (i + 1)) for i in range(12)],
        "doc_id long, text string",
    )
    media = MM.with_fake_payload(wide)
    fused = MM.media_fingerprints(media).collect()

    def multiset(rows):
        out = {}
        for t in rows:
            out[t] = out.get(t, 0) + 1
        return out

    got = {
        m: multiset(
            (r.doc_id, r.mhash) for r in fused if r.modality == m
        )
        for m in ("image", "audio", "video")
    }
    want = {
        "image": multiset(
            (r.doc_id, r.phash) for r in MM.image_phash(media).collect()
        ),
        "audio": multiset(
            (r.doc_id, r.ahash)
            for r in MM.audio_fingerprint(media).collect()
        ),
        "video": multiset(
            (r.doc_id, r.fhash) for r in MM.frame_phash(media).collect()
        ),
    }
    assert got == want
    # every modality actually present in the fixture
    assert all(got[m] for m in got)
