"""Codec exclusion-boundary pin (round-6, verdict item 8).

COVERAGE.md's "Codec boundary" table declares, per media format, which
of four behaviors the engine exhibits:

  real decode      — pixels/samples come out of a spec-faithful decoder
  structural probe — operators/mediameta.py parses the container
                     (dimensions, durations, track counts) but no decode
  hash fake        — fake=True operators substitute a deterministic
                     payload-hash stub
  strict raise     — fake=False raises NotImplementedError

This test pins that table mechanically so future rounds stop
re-litigating MP3/AAC/H.264: if a codec is added, removed, or a format
silently changes behavior class, a row here fails before the docs rot.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np
import pytest

from hybridbackend_spark.operators import multimodal as mm
from hybridbackend_spark.operators.gif import decode_gif
from hybridbackend_spark.operators.jpeg import decode_jpeg
from hybridbackend_spark.operators.mediameta import probe_media
from hybridbackend_spark.operators.mp4 import (
    decode_mp4_audio,
    decode_mp4_video,
    encode_mp4_audio,
    encode_mp4_video,
)
from hybridbackend_spark.operators.png import decode_png, encode_png_rgb


def test_registry_contents_pinned():
    """Exactly these codecs, with exactly these sniff magics. A new
    real decoder must update this pin AND the COVERAGE.md table."""
    assert [(n, m) for n, m, _ in mm._CODECS["image"]] == [
        ("baseline-jpeg", b"\xff\xd8"),
        ("png", b"\x89PNG\r\n\x1a\n"),
        ("gif", b"GIF8"),
    ]
    assert [(n, m) for n, m, _ in mm._CODECS["audio"]] == [
        ("ima-adpcm", b"RIFF"),
        ("mp4-audio", b""),
    ]
    assert [(n, m) for n, m, _ in mm._CODECS["video"]] == [
        ("mp4-video", b""),
    ]


# ---------------------------------------------------------------------------
# payload builders (deterministic, minimal)
# ---------------------------------------------------------------------------


def _img(h=6, w=5):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [(xx * 7 + yy) % 256, (yy * 5) % 256, (xx * 3 + 9) % 256], -1
    ).astype(np.uint8)


def _wav_pcm16() -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(2)
        f.setframerate(8000)
        f.writeframes(
            np.arange(-50, 50, dtype=np.int16).tobytes()
        )
    return buf.getvalue()


def _mp3_frame() -> bytes:
    # MPEG1 Layer III, 128 kbps, 44.1 kHz header + dummy body (the
    # structural-probe shape; entropy decode is excluded)
    hdr = bytes([0xFF, 0xFB, 0x90, 0x00])
    size = 417  # 144 * 128000 / 44100
    return (hdr + bytes(size - 4)) * 3


def _png16() -> bytes:
    # 16-bit grayscale, filter 0 (engine-independent hand encoding)
    h, w = 3, 4
    vals = (np.arange(h * w, dtype=np.uint16) * 5000).reshape(h, w)
    raw = bytearray()
    for y in range(h):
        raw.append(0)
        raw.extend(vals[y].astype(">u2").tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0)

    def chunk(ct, d):
        return (
            struct.pack(">I", len(d)) + ct + d
            + struct.pack(">I", zlib.crc32(ct + d) & 0xFFFFFFFF)
        )

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# behavior classes
# ---------------------------------------------------------------------------


def test_real_decode_formats():
    img = _img()
    # PPM (P6)
    assert np.array_equal(mm._parse_ppm(mm.encode_ppm(img)), img)
    # PNG 8-bit and 16-bit (GIF/JPEG real decodes are exercised
    # exhaustively in test_gif.py / test_jpeg.py)
    assert np.array_equal(decode_png(encode_png_rgb(img)), img)
    out16 = decode_png(_png16())
    assert out16 is not None and out16.shape == (3, 4, 3)
    # WAV PCM16 through the audio stats parser
    mono, rate = mm._parse_wav(_wav_pcm16())
    assert rate == 8000 and len(mono) == 100
    # MP4 G.711 ulaw audio (engine muxer -> real decoder)
    payload = encode_mp4_audio(bytes(range(200)), fourcc="ulaw")
    dec = decode_mp4_audio(payload)
    assert dec is not None and dec[1] == 8000
    # MP4 PNG video track
    frames = [encode_png_rgb(_img(4, 4)) for _ in range(2)]
    v = decode_mp4_video(encode_mp4_video(frames, 4, 4))
    assert v is not None and len(v) == 2 and v[0].shape == (4, 4, 3)


def test_structural_probe_only_formats():
    """MP3: the probe parses frame headers (real structural info), but
    no registered audio codec claims the payload — the decode-side
    boundary."""
    mp3 = _mp3_frame()
    meta = probe_media(mp3)
    assert meta is not None and meta["format"] == "mp3"
    assert meta["sample_rate"] == 44100 and meta["bitrate_kbps"] == 128
    assert mm._try_codecs(mm._codec_snapshot("audio"), mp3) is None
    assert mm._try_codecs(mm._codec_snapshot("image"), mp3) is None


def test_excluded_variants_fall_through():
    # sub-byte-depth PNG is now a REAL decode (all spec-valid PNG
    # depth/color combinations are in scope): a 4x4 4-bit grayscale
    # zero image decodes to black, it does not fall through
    ihdr = struct.pack(">IIBBBBB", 4, 4, 4, 0, 0, 0, 0)

    def chunk(ct, d):
        return (
            struct.pack(">I", len(d)) + ct + d
            + struct.pack(">I", zlib.crc32(ct + d) & 0xFFFFFFFF)
        )

    png4 = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(12))) + chunk(b"IEND", b"")
    )
    out4 = decode_png(png4)
    assert out4 is not None and out4.shape == (4, 4, 3)
    assert not out4.any()
    # spec-INVALID depth (3-bit) still falls through
    ihdr3 = struct.pack(">IIBBBBB", 4, 4, 3, 0, 0, 0, 0)
    png3 = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr3)
        + chunk(b"IDAT", zlib.compress(bytes(12))) + chunk(b"IEND", b"")
    )
    assert decode_png(png3) is None
    # arithmetic-coded JPEG: SOI + SOF9 (extended sequential,
    # arithmetic) header — decoder must refuse, not garble
    sof9 = b"\xff\xd8" + b"\xff\xc9" + struct.pack(
        ">HBHHB", 8 + 3, 8, 4, 4, 1
    ) + b"\x01\x11\x00" + b"\xff\xd9"
    assert decode_jpeg(sof9) is None
    # GIF: truncated header falls through
    assert decode_gif(b"GIF89a") is None


DECODING_OPERATORS = [
    "decode_image_features",
    "image_pixel_stats",
    "audio_sample_stats",
    "video_frame_stats",
    "resize_images",
    "sample_video_frames",
    "extract_audio_features",
    "image_ahash",
    "detect_scene_cuts",
]


@pytest.mark.parametrize("op", DECODING_OPERATORS)
def test_strict_raises_and_fake_substitutes(spark, op):
    """fake=False -> NotImplementedError for an unclaimed format;
    fake=True -> deterministic hash stub (runs end-to-end)."""
    rows = [(1, bytearray(_mp3_frame()))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    run = getattr(mm, op)
    with pytest.raises(Exception, match="NotImplementedError|no codec"):
        run(df, fake=False).collect()
    out = sorted(run(df, fake=True).collect())
    assert out and out == sorted(run(df, fake=True).collect())  # deterministic
