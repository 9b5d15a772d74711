"""Container/header metadata probing for media payloads — no decoding.

The 100 TB media-QA pass: most corpus questions about media columns
(dimensions, duration, sample rate, track layout, corrupt headers) need
only the container structure, which parses in microseconds per payload
— full decode is reserved for the rows that survive triage. This
module reads REAL structure for:

- JPEG: marker walk to SOF0/SOF2 (width/height, progressive flag)
- PNG: IHDR (width/height, bit depth, color type, interlace)
- GIF: logical screen descriptor + image-descriptor count (animation
  frame count) — a real block walk, not a sniff
- PPM: text header
- WAV (RIFF): fmt chunk — format tag (PCM/IMA-ADPCM), channels, sample
  rate; duration from the data chunk size
- MP3 (MPEG audio): ID3v2 skip + first frame header (version, layer,
  bitrate, sample rate); CBR duration estimate from stream size
- MP4/ISO-BMFF: atom walk — ftyp brand, mvhd timescale/duration, trak
  count, tkhd visual dimensions

MP3/MP4 SAMPLE DECODE stays out of scope (the audio/codec registries
raise in strict mode); this module is the honest structural complement,
and it never guesses: payloads that fail structural parsing return
format=None rather than fabricated fields.
"""

from __future__ import annotations

import struct

from .mp4 import _iter_boxes
from .multimodal import _PPM_HEADER, _row_map, _schema

__all__ = ["probe_media", "media_probe"]


def _probe_jpeg(p: bytes):
    pos = 2
    while pos + 4 <= len(p):
        if p[pos] != 0xFF:
            return None
        marker = p[pos + 1]
        pos += 2
        if marker in (0x01, 0xD9) or 0xD0 <= marker <= 0xD7:
            continue
        (seglen,) = struct.unpack(">H", p[pos : pos + 2])
        if marker in (0xC0, 0xC1, 0xC2):
            h, w = struct.unpack(">HH", p[pos + 3 : pos + 7])
            return {
                "format": "jpeg-progressive" if marker == 0xC2 else "jpeg",
                "width": w,
                "height": h,
            }
        if marker == 0xDA:
            return None  # scan before any SOF: malformed
        pos += seglen
    return None


def _probe_png(p: bytes):
    if len(p) < 33 or p[12:16] != b"IHDR":
        return None
    w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
        ">IIBBBBB", p[16:29]
    )
    return {
        "format": "png",
        "width": w,
        "height": h,
        "extra": f"depth={depth} color={ctype} interlace={interlace}",
    }


def _probe_gif(p: bytes):
    w, h, flags = struct.unpack("<HHB", p[6:11])
    pos = 13
    if flags & 0x80:
        pos += 3 * (2 << (flags & 0x07))
    frames = 0
    while pos < len(p):
        b0 = p[pos]
        if b0 == 0x3B:
            break
        if b0 == 0x21:  # extension: skip sub-blocks
            pos += 2
            while pos < len(p):
                sz = p[pos]
                pos += 1 + sz
                if sz == 0:
                    break
        elif b0 == 0x2C:  # image descriptor
            iflags = p[pos + 9]
            pos += 10
            if iflags & 0x80:
                pos += 3 * (2 << (iflags & 0x07))
            pos += 1  # LZW min code size
            while pos < len(p):
                sz = p[pos]
                pos += 1 + sz
                if sz == 0:
                    break
            frames += 1
        else:
            return None
    if frames == 0:
        return None
    return {"format": "gif", "width": w, "height": h, "n_frames": frames}


def _probe_ppm(p: bytes):
    m = _PPM_HEADER.match(p)
    if not m:
        return None
    return {
        "format": "ppm",
        "width": int(m.group(1)),
        "height": int(m.group(2)),
    }


def _probe_wav(p: bytes):
    if p[8:12] != b"WAVE":
        return None
    pos = 12
    fmt = None
    data_len = None
    while pos + 8 <= len(p):
        cid = p[pos : pos + 4]
        (sz,) = struct.unpack("<I", p[pos + 4 : pos + 8])
        if cid == b"fmt ":
            fmt = p[pos + 8 : pos + 8 + sz]
        elif cid == b"data":
            data_len = sz
        pos += 8 + sz + (sz & 1)
    if fmt is None:
        return None
    tag, n_ch, rate, byte_rate = struct.unpack_from("<HHII", fmt, 0)
    name = {1: "wav-pcm", 0x11: "wav-ima-adpcm"}.get(tag, f"wav-0x{tag:x}")
    out = {"format": name, "channels": n_ch, "sample_rate": rate}
    if data_len and byte_rate:
        out["duration_ms"] = data_len * 1000 // byte_rate
    return out


_MP3_BITRATES_V1L3 = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160,
                     192, 224, 256, 320, 0]
_MP3_RATES_V1 = [44100, 48000, 32000, 0]


def _probe_mp3(p: bytes):
    pos = 0
    if p[:3] == b"ID3":  # ID3v2: syncsafe 28-bit size
        sz = ((p[6] & 0x7F) << 21) | ((p[7] & 0x7F) << 14) | (
            (p[8] & 0x7F) << 7
        ) | (p[9] & 0x7F)
        pos = 10 + sz
    # find frame sync
    while pos + 4 <= len(p):
        if p[pos] == 0xFF and (p[pos + 1] & 0xE0) == 0xE0:
            break
        pos += 1
    else:
        return None
    if pos + 4 > len(p):
        return None
    b1, b2 = p[pos + 1], p[pos + 2]
    version = (b1 >> 3) & 0x3  # 3 = MPEG1
    layer = (b1 >> 1) & 0x3  # 1 = Layer III
    if version != 3 or layer != 1:
        return None  # only MPEG1 Layer III headers parsed
    bitrate = _MP3_BITRATES_V1L3[(b2 >> 4) & 0xF]
    rate = _MP3_RATES_V1[(b2 >> 2) & 0x3]
    if not bitrate or not rate:
        return None
    stream = len(p) - pos
    return {
        "format": "mp3",
        "sample_rate": rate,
        "bitrate_kbps": bitrate,
        "duration_ms": stream * 8 // bitrate,  # CBR estimate
    }


def _probe_mp4(p: bytes):
    """ftyp brand, mvhd duration, trak count and the first visual tkhd's
    dimensions. Boxes walk with mp4.py's ``_iter_boxes``, so a size-0
    box runs to the end of its parent (ISO/IEC 14496-12 §4.2) and a bad
    size raises ValueError."""
    if len(p) < 12 or p[4:8] != b"ftyp":
        return None
    brand = p[8:12].decode("latin1")
    out = {"format": "mp4", "extra": f"brand={brand}"}
    n_trak = 0
    for top, lo, hi in _iter_boxes(p, 0, len(p)):
        if top != b"moov":
            continue
        for typ, body, end in _iter_boxes(p, lo, hi):
            if typ == b"mvhd":
                if p[body] == 1:
                    ts, dur = struct.unpack(">IQ", p[body + 20 : body + 32])
                else:
                    ts, dur = struct.unpack(">II", p[body + 12 : body + 20])
                if ts:
                    out["duration_ms"] = dur * 1000 // ts
            elif typ == b"trak":
                n_trak += 1
                for sub, at, _ in _iter_boxes(p, body, end):
                    if sub != b"tkhd":
                        continue
                    off = at + (96 if p[at] == 1 else 84)
                    w16, h16 = struct.unpack(">II", p[off - 8 : off])
                    # 16.16 fixed point; only meaningful for visual tracks
                    if w16 and h16:
                        out["width"] = w16 >> 16
                        out["height"] = h16 >> 16
    if n_trak:
        out["n_tracks"] = n_trak
    return out if "duration_ms" in out or n_trak else None


def probe_media(payload: bytes):
    """Parse the container/header structure of a media payload. Returns
    a dict with ``format`` plus whatever the container declares (width,
    height, n_frames, n_tracks, channels, sample_rate, bitrate_kbps,
    duration_ms, extra) — or None when no known structure parses."""
    if payload is None or len(payload) < 12:
        return None
    p = bytes(payload)
    try:
        if p.startswith(b"\xff\xd8"):
            return _probe_jpeg(p)
        if p.startswith(b"\x89PNG\r\n\x1a\n"):
            return _probe_png(p)
        if p[:6] in (b"GIF87a", b"GIF89a"):
            return _probe_gif(p)
        if p.startswith(b"P6"):
            return _probe_ppm(p)
        if p.startswith(b"RIFF"):
            return _probe_wav(p)
        if len(p) >= 12 and p[4:8] == b"ftyp":
            return _probe_mp4(p)
        if p.startswith(b"ID3") or (
            p[0] == 0xFF and (p[1] & 0xE0) == 0xE0
        ):
            return _probe_mp3(p)
    except (ValueError, struct.error, IndexError):
        return None
    return None


def media_probe(df, payload_col: str = "payload", id_col: str = "media_id"):
    """Spark operator: probe every payload's container structure, one
    Arrow-batched pass. Output one row per input:
    (id, format, width, height, n_frames, n_tracks, channels,
    sample_rate, bitrate_kbps, duration_ms, extra) with NULLs where the
    container declares nothing — the triage table a media pipeline
    builds BEFORE spending decode cycles."""
    from pyspark.sql import types as T

    fields = ["format", "width", "height", "n_frames", "n_tracks",
              "channels", "sample_rate", "bitrate_kbps", "duration_ms",
              "extra"]

    def _row(mid, p):
        m = probe_media(p) or {}
        return [(mid, *(m.get(f) for f in fields))]

    out_schema = _schema(
        id_col,
        ("format", T.StringType()),
        *fields[1:-1],
        ("extra", T.StringType()),
    )
    return _row_map(df, [id_col, payload_col], out_schema, _row)
