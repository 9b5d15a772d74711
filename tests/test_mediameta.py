"""Media container-probe tests (operators/mediameta.py).

MP3 frames and MP4 atom trees are synthesized by hand from the format
specs (valid structure, dummy payload bytes) — the probe reads
structure only, so structural synthesis is the honest test input.
Image/audio formats reuse the independent encoders from their codec
test suites.
"""

from __future__ import annotations

import struct

import numpy as np

from hybridbackend_spark.operators.mediameta import media_probe, probe_media


def _mp3_bytes(n_frames=100, bitrate_idx=9, rate_idx=0, id3=False):
    """MPEG1 Layer III CBR frames: header + dummy payload of the frame
    length the header itself declares."""
    bitrate = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
               256, 320, 0][bitrate_idx]
    rate = [44100, 48000, 32000, 0][rate_idx]
    frame_len = 144 * bitrate * 1000 // rate  # padding bit 0
    hdr = bytes([0xFF, 0xFB, (bitrate_idx << 4) | (rate_idx << 2), 0x00])
    frame = hdr + bytes(frame_len - 4)
    out = b""
    if id3:
        body = bytes(200)
        sz = len(body)
        out += b"ID3" + bytes([3, 0, 0,
                               (sz >> 21) & 0x7F, (sz >> 14) & 0x7F,
                               (sz >> 7) & 0x7F, sz & 0x7F]) + body
    return out + frame * n_frames


def _atom(typ: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body) + 8) + typ + body


def _mp4_bytes(w=640, h=360, dur_ms=2500, timescale=1000, n_trak=2):
    mvhd = bytes([0, 0, 0, 0]) + bytes(8) + struct.pack(
        ">II", timescale, dur_ms * timescale // 1000
    ) + bytes(80)
    traks = b""
    for i in range(n_trak):
        tkhd_body = bytes([0, 0, 0, 0]) + bytes(72) + struct.pack(
            ">II", (w << 16) if i == 0 else 0, (h << 16) if i == 0 else 0
        )
        traks += _atom(b"trak", _atom(b"tkhd", tkhd_body))
    return (
        _atom(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
        + _atom(b"moov", _atom(b"mvhd", mvhd) + traks)
        + _atom(b"mdat", bytes(64))
    )


def test_probe_mp3_header_and_duration():
    blob = _mp3_bytes(n_frames=200, bitrate_idx=9, rate_idx=0)
    m = probe_media(blob)
    assert m["format"] == "mp3"
    assert m["sample_rate"] == 44100
    assert m["bitrate_kbps"] == 128
    # CBR estimate: bytes*8/bitrate
    assert abs(m["duration_ms"] - len(blob) * 8 // 128) <= 1


def test_probe_mp3_skips_id3():
    m = probe_media(_mp3_bytes(n_frames=10, id3=True))
    assert m and m["format"] == "mp3" and m["sample_rate"] == 44100


def test_probe_mp4_atoms():
    m = probe_media(_mp4_bytes(w=1280, h=720, dur_ms=7000, n_trak=2))
    assert m["format"] == "mp4"
    assert m["width"] == 1280 and m["height"] == 720
    assert m["n_tracks"] == 2
    assert m["duration_ms"] == 7000
    assert "isom" in m["extra"]
    # a top-level box of size 0 runs to the end of the file (ISO/IEC
    # 14496-12 §4.2): the trailing mdat written that way probes the same
    blob = _mp4_bytes(w=320, h=240, dur_ms=1500, n_trak=1)
    mdat = len(_atom(b"mdat", bytes(64)))
    zero = blob[:-mdat] + struct.pack(">I", 0) + blob[-mdat + 4 :]
    assert probe_media(zero) == probe_media(blob)
    assert (probe_media(zero)["duration_ms"], probe_media(zero)["width"],
            probe_media(zero)["height"], probe_media(zero)["n_tracks"]) == (
        1500, 320, 240, 1)


def test_probe_images_and_wav():
    import sys, os
    sys.path.insert(0, os.path.dirname(__file__))
    from test_gif import _pal, encode_gif
    from test_png import _grad, encode_png

    png = probe_media(encode_png(_grad(15, 22)))
    assert (png["format"], png["width"], png["height"]) == ("png", 22, 15)

    idx = (np.arange(35).reshape(5, 7) % 4).astype(np.uint8)
    gif = probe_media(encode_gif(idx, _pal(4)))
    assert (gif["format"], gif["width"], gif["height"],
            gif["n_frames"]) == ("gif", 7, 5, 1)

    from test_jpeg import _smooth, encode_jpeg, encode_jpeg_progressive
    jb = probe_media(encode_jpeg(_smooth(9, 14)))
    assert (jb["format"], jb["width"], jb["height"]) == ("jpeg", 14, 9)
    jp = probe_media(encode_jpeg_progressive(_smooth(9, 14)))
    assert jp["format"] == "jpeg-progressive"

    import io
    import wave as wave_mod

    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as wf:
        wf.setnchannels(2)
        wf.setsampwidth(2)
        wf.setframerate(16000)
        wf.writeframes(bytes(16000 * 2 * 2))  # 1 second stereo
    wav = probe_media(buf.getvalue())
    assert wav["format"] == "wav-pcm"
    assert wav["channels"] == 2 and wav["sample_rate"] == 16000
    assert abs(wav["duration_ms"] - 1000) <= 1


def test_probe_rejects_garbage():
    assert probe_media(b"") is None
    assert probe_media(b"\x00" * 64) is None
    assert probe_media(b"RIFFxxxxJUNK" + bytes(20)) is None
    assert probe_media(_mp4_bytes()[:20]) is None  # truncated moov


def test_spark_media_probe_mixed_column(spark):
    """One binary column mixing five formats -> one triage table."""
    from test_png import _grad, encode_png

    rows = [
        (1, bytearray(encode_png(_grad(8, 9)))),
        (2, bytearray(_mp3_bytes(20))),
        (3, bytearray(_mp4_bytes())),
        (4, bytearray(b"not media at all" * 4)),
    ]
    df = spark.createDataFrame(rows, ["media_id", "payload"])
    got = {r.media_id: r for r in media_probe(df).collect()}
    assert got[1].format == "png" and got[1].width == 9
    assert got[2].format == "mp3" and got[2].bitrate_kbps == 128
    assert got[3].format == "mp4" and got[3].n_tracks == 2
    assert got[4].format is None
