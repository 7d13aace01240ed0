"""Multimodal plumbing tests: binary payload schema, Arrow-batched
feature extraction, synthetic-codec decoders."""

from __future__ import annotations

import hashlib

from asvsp_spark.operators import multimodal as MM
from tests.conftest import SF_DIR


def test_attach_fake_media_schema(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    media = MM.attach_fake_media(docs)
    dtypes = dict(media.dtypes)
    assert dtypes["payload"] == "binary"
    assert dtypes["media_type"] == "string"
    assert dtypes["meta"].startswith("struct<")


def test_media_features_deterministic(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(20)
    feats = MM.media_features(MM.attach_fake_media(docs)).collect()
    assert len(feats) == 20
    originals = {r.doc_id: r.text for r in docs.collect()}
    for r in feats:
        raw = originals[r.doc_id].encode("utf-8")
        assert r.n_bytes == len(raw)
        assert r.head_hex == raw[:8].hex().upper()
        assert r.digest == hashlib.md5(raw).hexdigest()
        assert r.media_type in MM.MEDIA_TYPES


def test_media_features_drops_payload(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(5)
    feats = MM.media_features(MM.attach_fake_media(docs))
    assert "payload" not in feats.columns  # narrow output, no bytes shuffled


def test_synthetic_codec_image_decode_and_resize(spark):
    """RAWI decode: exact dimensions from the header, resize bounded by
    max_side, mean intensity reproducible (seeded PRNG payloads)."""
    from asvsp_spark.operators.multimodal import (attach_synthetic_media,
                                                  decode_image_raw)
    docs = spark.createDataFrame(
        [(i, f"text {i}", 10, "src") for i in range(12)],
        "doc_id long, text string, n_chars long, source string")
    media = attach_synthetic_media(docs)
    out = {r.doc_id: r for r in decode_image_raw(media, max_side=8).collect()}
    assert out, "round-robin must produce image rows"
    for r in out.values():
        assert r.doc_id % 3 == 0                  # images are doc_id%3==0
        assert r.out_width <= 8 and r.out_height <= 8
        assert 0.0 <= r.mean_intensity <= 255.0
    again = {r.doc_id: r.mean_intensity
             for r in decode_image_raw(media, max_side=8).collect()}
    assert again == {k: v.mean_intensity for k, v in out.items()}


def test_synthetic_codec_audio_resample(spark):
    from asvsp_spark.operators.multimodal import (attach_synthetic_media,
                                                  decode_audio_raw)
    docs = spark.createDataFrame(
        [(i, "t", 1, "s") for i in range(12)],
        "doc_id long, text string, n_chars long, source string")
    out = decode_audio_raw(attach_synthetic_media(docs),
                           target_rate=4000).collect()
    assert out
    for r in out:
        assert r.rate == 8000
        assert r.out_samples == int(r.n_samples * 4000 / 8000)
        assert abs(r.duration_s - r.n_samples / 8000) < 1e-9
        assert r.rms > 0


def test_synthetic_codec_frame_sampling_explodes(spark):
    """One video row -> ceil(n_frames / every_n) output rows with
    distinct per-frame digests."""
    from asvsp_spark.operators.multimodal import (attach_synthetic_media,
                                                  frame_sample_raw)
    docs = spark.createDataFrame(
        [(i, "t", 1, "s") for i in range(12)],
        "doc_id long, text string, n_chars long, source string")
    rows = frame_sample_raw(attach_synthetic_media(docs),
                            every_n=2).collect()
    assert rows
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, frames in by_doc.items():
        nf = 4 + doc_id % 13
        assert len(frames) == -(-nf // 2)
        digests = [f.frame_digest for f in frames]
        assert len(set(digests)) == len(digests)
