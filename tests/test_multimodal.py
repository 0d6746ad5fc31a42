"""Multimodal plumbing: binary columns through Arrow-batched
mapInPandas with a stubbed decode kernel."""

from __future__ import annotations

import hashlib

import pytest

from db_cdc_poc_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, b"fake-image-bytes", ("image", "png", 64, 64, None, None)),
        (2, b"fake-audio-bytes-longer", ("audio", "wav", None, None, 5000, 16000)),
        (3, b"fake-video", ("video", "mp4", 320, 240, 3500, None)),
    ]
    return spark.createDataFrame(rows, mm.MEDIA_SCHEMA)


def test_extract_features_plumbing(spark, media):
    out = {r.media_id: r for r in mm.extract_features(media, dim=8).collect()}
    assert set(out) == {1, 2, 3}
    for mid, r in out.items():
        assert len(r.features) == 8
        assert all(0.0 <= x < 1.0 for x in r.features)
    assert out[1].content_sha256 == hashlib.sha256(b"fake-image-bytes").hexdigest()
    assert out[2].n_bytes == len(b"fake-audio-bytes-longer")


def test_extract_features_deterministic(spark, media):
    a = sorted(mm.extract_features(media, dim=4).collect())
    b = sorted(mm.extract_features(media, dim=4).collect())
    assert a == b


def test_real_decode_raises_decode_unavailable(spark, media):
    # eager: raised at plan-build time, not wrapped in an executor
    # exception at first action (and never silently skipped on empty
    # input). Only meaningful in codec-less containers — with a codec
    # importable the real path activates instead (tested below).
    if mm._image_codec() is not None or mm._audio_codec() is not None:
        pytest.skip("a media codec is importable: real decode active")
    with pytest.raises(mm.DecodeUnavailable):
        mm.extract_features(media, fake_decode=False)


def test_frame_sample_plan(spark, media):
    rows = mm.frame_sample_plan(media, every_ms=1000).collect()
    # only the video row (3.5 s) expands: frames at 0, 1000, 2000 ms
    assert {r.media_id for r in rows} == {3}
    assert sorted(r.frame_ts_ms for r in rows) == [0, 1000, 2000]


def _png_bytes(w: int, h: int) -> bytes:
    """A tiny real PNG via Pillow (caller importorskips)."""
    import io

    from PIL import Image

    im = Image.new("RGB", (w, h), (200, 30, 90))
    buf = io.BytesIO()
    im.save(buf, format="PNG")
    return buf.getvalue()


def test_extract_features_real_pil(spark):
    pytest.importorskip("PIL")
    png = _png_bytes(16, 16)
    df = spark.createDataFrame(
        [(1, png, ("image", "png", 16, 16, None, None)),
         (2, b"not-an-image", ("image", "png", 1, 1, None, None)),
         (3, b"some-video", ("video", "mp4", 8, 8, 1000, None))],
        mm.MEDIA_SCHEMA,
    )
    out = {r.media_id: r.features for r in mm.extract_features(
        df, dim=8, fake_decode=False).collect()}
    assert len(out[1]) == 8 and all(0.0 <= x <= 1.0 for x in out[1])
    assert out[2] is None  # failed decode -> NULL, not a job abort
    assert out[3] is None  # undecodable type -> NULL


def _wav_bytes(samples, rate=16000, width=2):
    """Pure-stdlib PCM WAV encoder: the fixture that lets the REAL
    audio kernel run without the C soundfile library (VERDICT r5 #8).
    ``samples`` are floats in [-1, 1)."""
    import struct
    import wave
    from io import BytesIO

    buf = BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(width)
        w.setframerate(rate)
        w.writeframes(
            b"".join(struct.pack("<h", int(s * 32767)) for s in samples)
        )
    return buf.getvalue()


def test_extract_features_real_audio_wav(spark):
    """The real audio kernel (RMS envelope per chunk) on a stdlib-
    encoded WAV: first half silence, second half full-scale square
    wave — the envelope must be ~0 then ~1, decoded for real (no
    soundfile needed: the stdlib-wave shim carries PCM WAV)."""
    n = 1600
    samples = [0.0] * n + [0.999 if i % 2 == 0 else -0.999 for i in range(n)]
    wav = _wav_bytes(samples)
    df = spark.createDataFrame(
        [(1, wav, ("audio", "wav", None, None, 200, 16000)),
         (2, b"not-audio", ("audio", "wav", None, None, 10, 16000))],
        mm.MEDIA_SCHEMA,
    )
    out = {r.media_id: r.features for r in mm.extract_features(
        df, dim=8, fake_decode=False).collect()}
    feats = out[1]
    assert len(feats) == 8
    assert all(f < 0.01 for f in feats[:4]), feats
    assert all(0.95 < f <= 1.0 for f in feats[4:]), feats
    assert out[2] is None  # undecodable bytes -> NULL, not a job abort


def test_stdlib_wav_shim_matches_contract():
    """The shim's read() output shape/normalization matches what the
    kernel expects from soundfile: float array in [-1, 1), sample rate
    as the second element; stereo reshapes to (n, 2)."""
    from io import BytesIO

    import numpy as np

    mono = _wav_bytes([0.5, -0.5, 0.25, -0.25], rate=8000)
    data, rate = mm._StdlibWavCodec.read(BytesIO(mono))
    assert rate == 8000
    assert data.ndim == 1 and len(data) == 4
    assert abs(data[0] - 0.5) < 1e-3 and abs(data[1] + 0.5) < 1e-3

    # stereo: interleaved frames reshape to (n_frames, channels)
    import struct
    import wave

    buf = BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<4h", 16384, -16384, 8192, -8192))
    data, rate = mm._StdlibWavCodec.read(BytesIO(buf.getvalue()))
    assert data.shape == (2, 2)
    assert abs(float(np.mean(np.abs(data))) - 0.375) < 1e-3
