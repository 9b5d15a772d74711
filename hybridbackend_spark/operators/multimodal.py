"""Multimodal column handling: opaque binary payloads + typed metadata,
with Arrow-batched decode / feature-extract / resize / frame-sample
operators.

Design: media is carried as ``binary`` columns beside a typed metadata
struct (mime, width/height, duration, sample_rate). All Spark-side
plumbing — schemas, partition sizing, UDF signatures, Arrow batch shapes —
is real and tested.

Codecs: formats decodable with container-available tooling are decoded
FOR REAL — PPM (P6) images via numpy, JPEG baseline AND progressive
(operators/jpeg.py, pure Python + numpy), PNG (operators/png.py,
stdlib zlib + numpy), GIF (operators/gif.py, pure-Python LZW), PCM16
WAV audio via the stdlib ``wave`` module, IMA ADPCM WAV
(operators/adpcm.py), a concatenated-PPM frame stream for video, and
ISO-BMFF MP4/M4A/MOV containers (operators/mp4.py) carrying PCM/G.711
audio tracks or PNG/motion-JPEG video tracks. PNG covers all five
filters, palette/gray/alpha variants, Adam7 interlace, and 16-bit
depth (round-6). Formats that genuinely require absent codec libraries
(MP3, AAC, H.264, arithmetic-coded JPEG) fall back per row to a
deterministic hash fake when ``fake=True`` (keeps pipelines runnable
end-to-end) or raise ``NotImplementedError`` in strict mode. The full
format x behavior matrix is pinned in COVERAGE.md ("Codec boundary")
and asserted by tests/test_codec_boundary.py. Payload sniffing is by
magic bytes, so one column can mix formats.

One boundary: every operator here (and ``mediameta.media_probe``) is a
per-row function over :func:`_row_map`, the family's single
``mapInArrow`` site, and every decoding operator resolves a payload
through :func:`_decode` (built-in parse, then registered codecs, then
the operator's own hash fake or the strict raise).

Codec contract: an operator snapshots the codec registry when it is
called, so later registry edits don't mutate plans already built. The
snapshot travels to the executors inside the row function, so each
decoder must survive cloudpickle: a function from a worker-importable
module (pickled by reference) or a nested/dynamic function (shipped by
value) — never a method holding open resources.

Scale notes: decode is the canonical Python-boundary operator — Arrow
batches amortize serde; ``spark.sql.execution.arrow.maxRecordsPerBatch``
and ``spark.sql.files.maxPartitionBytes`` bound per-task memory (media
rows are fat; size partitions by bytes, not rows). Feature vectors come
back as ``array<float>`` ready for the similarity operators.
"""

from __future__ import annotations

import hashlib
import io
import re

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

__all__ = [
    "IMAGE_META_SCHEMA",
    "AUDIO_META_SCHEMA",
    "VIDEO_META_SCHEMA",
    "with_media_meta",
    "decode_image_features",
    "image_pixel_stats",
    "audio_sample_stats",
    "video_frame_stats",
    "resize_images",
    "sample_video_frames",
    "detect_scene_cuts",
    "extract_audio_features",
    "encode_ppm",
    "image_ahash",
    "image_near_dup_pairs",
    "register_codec",
    "unregister_codec",
]

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)
AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)
VIDEO_META_SCHEMA = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("fps", T.FloatType()),
    ]
)

_STRICT_MSG = (
    "payload is not a format decodable in this environment (PPM/WAV or a "
    "registered codec); real {kind} decoding of compressed formats "
    "requires a codec library not present here; register one with "
    "register_codec() or run with fake=True for the deterministic stub"
)

# extract_audio_features: analysis window of a decoded signal, and the
# byte window its hash fake frames an undecodable payload into
_FRAME_MS = 25
_FAKE_FRAME_BYTES = 1024


# ---------------------------------------------------------------------------
# Pluggable codec registry: where real codec libraries exist, they slot in
# without code change. A codec is (name, magic-byte prefix, decode fn);
# payloads are sniffed by prefix, first match wins. Decoder contracts:
#   image: decode(payload: bytes) -> (h, w, 3) uint8 ndarray, or None
#   audio: decode(payload: bytes) -> (mono float ndarray in [-1,1], rate),
#          or None
#   video: decode(payload: bytes) -> list of (h, w, 3) uint8 frames, or None
# Returning None means "not mine after all" — the sniff falls through to
# the next codec, then to the fake/strict fallback. Snapshot and pickling
# rules: see the module docstring. Built-in PPM/WAV/PPM-stream decoding
# always runs first.
# ---------------------------------------------------------------------------

_CODECS: dict[str, list[tuple[str, bytes, object]]] = {
    # baseline JPEG ships built-in (pure Python + numpy, operators/
    # jpeg.py) — registered below once _jpeg_decode exists; progressive/
    # arithmetic JPEGs make it return None and fall through as before
    "image": [],
    "audio": [],
    "video": [],
}


def register_codec(kind: str, name: str, magic: bytes, decode) -> None:
    """Register a real decoder for compressed payloads (e.g. JPEG via an
    imaging library, MP3 via an audio library, where installed). ``kind``
    is 'image' | 'audio' | 'video'; ``magic`` is the payload prefix that
    selects this codec (e.g. ``b"\\xff\\xd8\\xff"`` for JPEG). Re-using a
    name replaces the old entry."""
    if kind not in _CODECS:
        raise ValueError(f"unknown codec kind {kind!r}")
    _CODECS[kind] = [c for c in _CODECS[kind] if c[0] != name]
    _CODECS[kind].append((name, bytes(magic), decode))


def unregister_codec(kind: str, name: str) -> None:
    _CODECS[kind] = [c for c in _CODECS.get(kind, []) if c[0] != name]


def _codec_snapshot(kind: str) -> list[tuple[str, bytes, object]]:
    return list(_CODECS[kind])


def _try_codecs(codecs: list, payload: bytes):
    for _name, magic, decode in codecs:
        if payload.startswith(magic):
            out = decode(payload)
            if out is not None:
                return out
    return None


def with_media_meta(
    df: DataFrame, payload_col: str, mime: str, out_col: str = "meta", **fields
) -> DataFrame:
    """Attach a typed metadata struct next to a binary payload column."""
    parts = [F.lit(mime).alias("mime")] + [
        F.lit(v).alias(k) for k, v in fields.items()
    ]
    return df.withColumn(out_col, F.struct(*parts))


# ---------------------------------------------------------------------------
# Real codecs for container-decodable formats. Each built-in decoder is a
# module-level wrapper, so it pickles by reference and imports its codec
# module lazily on the executor.
# ---------------------------------------------------------------------------


def _jpeg_decode(payload: bytes):
    """Built-in baseline JPEG decode (pure Python + numpy, operators/
    jpeg.py)."""
    from .jpeg import decode_jpeg

    return decode_jpeg(payload)


# JPEG magic is FF D8 (SOI); decode_jpeg itself rejects non-baseline
# frames by returning None, which falls through to fake/strict.
register_codec("image", "baseline-jpeg", b"\xff\xd8", _jpeg_decode)


def _png_decode(payload: bytes):
    """Built-in PNG decode (stdlib zlib + numpy, operators/png.py)."""
    from .png import decode_png

    return decode_png(payload)


# 8-byte PNG signature; decode_png rejects interlaced/16-bit payloads by
# returning None, which falls through to fake/strict.
register_codec("image", "png", b"\x89PNG\r\n\x1a\n", _png_decode)


def _gif_decode(payload: bytes):
    """Built-in GIF decode (pure Python LZW, operators/gif.py)."""
    from .gif import decode_gif

    return decode_gif(payload)


# "GIF8" covers both GIF87a and GIF89a; decode_gif returns the FIRST
# frame of animations and None on structural corruption.
register_codec("image", "gif", b"GIF8", _gif_decode)


def _adpcm_decode(payload: bytes):
    """Built-in IMA ADPCM WAV decode (pure Python, operators/adpcm.py)."""
    from .adpcm import decode_adpcm_wav

    return decode_adpcm_wav(payload)


# PCM WAVs are consumed upstream by _parse_wav (stdlib wave refuses
# compressed format tags), so a RIFF payload reaching the registry is a
# compressed WAV: decode IMA ADPCM (tag 0x0011), None for other tags.
register_codec("audio", "ima-adpcm", b"RIFF", _adpcm_decode)


def _mp4_audio_decode(payload: bytes):
    """Built-in ISO-BMFF audio demux + uncompressed-codec decode
    (operators/mp4.py): PCM16 sowt/twos, 8-bit raw, G.711 ulaw/alaw.
    AAC stays a fall-through (None)."""
    from .mp4 import decode_mp4_audio

    return decode_mp4_audio(payload)


# BMFF's magic ("ftyp") sits at offset 4 behind a variable box size, so
# prefix matching can't select it; register with an empty prefix and let
# the decoder's own offset-4 check reject non-BMFF payloads immediately.
register_codec("audio", "mp4-audio", b"", _mp4_audio_decode)


def _mp4_video_decode(payload: bytes):
    """Built-in ISO-BMFF video demux + per-frame decode
    (operators/mp4.py): QuickTime 'png ' and motion-JPEG
    ('jpeg'/'mjpa') sample entries through the real PNG/JPEG decoders.
    Entropy-coded video (avc1/hev1/mp4v) stays a fall-through (None)."""
    from .mp4 import decode_mp4_video

    return decode_mp4_video(payload)


# Same empty-prefix registration as mp4-audio (magic at offset 4).
register_codec("video", "mp4-video", b"", _mp4_video_decode)

_PPM_HEADER = re.compile(rb"P6\s+(?:#[^\n]*\n\s*)*(\d+)\s+(\d+)\s+(\d+)\s")


def _parse_ppm(payload: bytes):
    """Decode a binary PPM (P6) image to an (h, w, 3) uint8 array, or
    None if the payload is not PPM. Pure numpy — no codec library."""
    import numpy as np

    m = _PPM_HEADER.match(payload)
    if not m:
        return None
    w, h, maxval = (int(g) for g in m.groups())
    if maxval != 255:
        return None
    off = m.end()
    need = w * h * 3
    body = payload[off : off + need]
    if len(body) < need:
        return None
    return np.frombuffer(body, dtype=np.uint8).reshape(h, w, 3)


def encode_ppm(arr) -> bytes:
    """Encode an (h, w, 3) uint8 array as binary PPM (P6)."""
    h, w = arr.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype("uint8").tobytes()


def _split_ppm_stream(payload: bytes) -> list[bytes]:
    """Split a concatenated-P6 stream (the toy video container) into the
    individual frame payloads, each one :func:`_parse_ppm` decodes. The
    split ends at the first frame it rejects (truncated body, maxval
    other than 255): the byte offsets after it can't be trusted. [] if
    the payload doesn't start with a decodable P6 frame."""
    frames, off = [], 0
    while m := _PPM_HEADER.match(payload, off):
        w, h, _ = (int(g) for g in m.groups())
        frame = payload[off : m.end() + w * h * 3]
        if _parse_ppm(frame) is None:
            break
        frames.append(frame)
        off += len(frame)
    return frames


def _grid_features(img, grid: int = 4) -> list[float]:
    """Per-cell channel means over a grid x grid partition of the image,
    flattened (grid*grid*3 values in [0, 1]) — real pixel statistics in
    the shape a small visual encoder would emit."""
    import numpy as np

    feats = []
    for rows in np.array_split(img, grid, axis=0):
        for cell in np.array_split(rows, grid, axis=1):
            feats.extend(float(x) / 255.0 for x in cell.reshape(-1, 3).mean(axis=0))
    return feats


def _parse_wav(payload: bytes):
    """Decode PCM16 WAV to (mono float array in [-1, 1], sample_rate), or
    None if not parseable. Stdlib ``wave`` + numpy — no codec library."""
    import wave

    import numpy as np

    try:
        with wave.open(io.BytesIO(payload), "rb") as wf:
            if wf.getsampwidth() != 2:
                return None
            rate = wf.getframerate()
            n = wf.getnframes()
            raw = wf.readframes(n)
            x = np.frombuffer(raw, dtype="<i2").astype("float64")
            ch = wf.getnchannels()
            if ch > 1:
                x = x.reshape(-1, ch).mean(axis=1)
            return x / 32768.0, rate
    except Exception:
        return None


def _fake_vector(payload: bytes, dim: int) -> list[float]:
    """Deterministic pseudo-feature vector from payload bytes (sha256
    expansion) — the fallback for compressed formats; stable across runs."""
    out = []
    counter = 0
    while len(out) < dim:
        h = hashlib.sha256(payload + counter.to_bytes(4, "little")).digest()
        out.extend(b / 255.0 for b in h)
        counter += 1
    return [float(x) for x in out[:dim]]


def _fit_dim(feats: list[float], dim: int) -> list[float]:
    """Cycle/truncate a feature list to exactly ``dim`` values."""
    if not feats:
        return [0.0] * dim
    return [float(feats[i % len(feats)]) for i in range(dim)]


# ---------------------------------------------------------------------------
# The shared boundary: one row map, one decode
# ---------------------------------------------------------------------------


def _schema(*fields) -> T.StructType:
    """Output schema from ``(name, type)`` pairs; a bare name is a
    nullable ``long`` field."""
    return T.StructType(
        [
            T.StructField(f, T.LongType()) if isinstance(f, str) else T.StructField(*f)
            for f in fields
        ]
    )


def _row_map(
    df: DataFrame, in_cols: list[str], out_schema: T.StructType, fn
) -> DataFrame:
    """Apply ``fn(*values)`` to each row of ``df``'s ``in_cols``; ``fn``
    returns the zero or more output tuples of that row, laid out as
    ``out_schema``. One ``mapInArrow`` over only ``in_cols``: values
    reach ``fn`` as plain Python objects (binary as ``bytes``), and each
    output column is built at its declared Arrow type, so no dtype is
    inferred between ``fn`` and the schema."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(out_schema)

    def _map_rows(batches):
        import pyarrow as pa

        for batch in batches:
            rows = [
                out
                for vals in zip(*(c.to_pylist() for c in batch.columns))
                for out in fn(*vals)
            ]
            cols = list(zip(*rows)) or [()] * len(arrow_schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
                schema=arrow_schema,
            )

    return df.select(*in_cols).mapInArrow(_map_rows, out_schema)


def _decode(kind: str, raw: bytes, codecs: list, fake: bool):
    """Decode one non-NULL payload: the built-in parse of ``kind``
    (PPM image, PCM16 WAV, concatenated-PPM frames), then ``codecs``, the
    operator's registry snapshot. Returns the (h, w, 3) image, the
    (signal, rate) pair or the non-empty frame list. When nothing
    decodes: None if ``fake`` (the caller substitutes its own hash
    fake), else NotImplementedError."""
    if kind == "video":
        frames = [_parse_ppm(fr) for fr in _split_ppm_stream(raw)]
        out = frames or list(_try_codecs(codecs, raw) or ()) or None
    else:
        out = (_parse_ppm if kind == "image" else _parse_wav)(raw)
        if out is None:
            out = _try_codecs(codecs, raw)
    if out is None and not fake:
        raise NotImplementedError(_STRICT_MSG.format(kind=kind))
    return out


_PIXEL_STATS = ("height", "width", "r_sum", "g_sum", "b_sum", "weighted")


def _pixel_stats(img) -> tuple[int, ...]:
    """``_PIXEL_STATS`` of an (h, w, 3) uint8 image, exact in int64:
    ``weighted`` = sum over pixels of (r + 2g + 3b) * (1 + (x + y) % 7),
    position-sensitive, so a pixel transposition or channel swap in a
    codec changes it (overflow needs > 2^44 pixels)."""
    import numpy as np

    h, w = img.shape[:2]
    px = img.astype(np.int64)
    yy, xx = np.mgrid[0:h, 0:w]
    lin = px[..., 0] + 2 * px[..., 1] + 3 * px[..., 2]
    r, g, b = (int(px[..., c].sum()) for c in range(3))
    return h, w, r, g, b, int((lin * (1 + (xx + yy) % 7)).sum())


# ---------------------------------------------------------------------------
# Operators
# ---------------------------------------------------------------------------


def decode_image_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    dim: int = 64,
    fake: bool = True,
) -> DataFrame:
    """Decode images and emit a feature vector per row (Arrow batches;
    the only sanctioned Python boundary). Output schema:
    (id_col long, features array<float>).

    PPM payloads are decoded for real (4x4 grid of per-cell channel
    means -> ``dim``); registered image codecs (see
    :func:`register_codec`) handle compressed formats. Remaining
    formats: deterministic hash fake when ``fake=True``, else
    NotImplementedError."""
    codecs = _codec_snapshot("image")

    def _row(mid, p):
        if p is None:
            return [(mid, None)]
        img = _decode("image", p, codecs, fake)
        if img is None:
            return [(mid, _fake_vector(p, dim))]
        return [(mid, _fit_dim(_grid_features(img), dim))]

    out_schema = _schema(id_col, ("features", T.ArrayType(T.FloatType())))
    return _row_map(df, [id_col, payload_col], out_schema, _row)


def image_pixel_stats(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    fake: bool = False,
) -> DataFrame:
    """Exact integer pixel statistics per image — the media-QA readout
    (corrupt-payload triage, black/blank-frame detection, dedup
    pre-screen) and the numerically-replayable proof that a decode path
    is lossless. Output: (id_col, height, width, r_sum, g_sum, b_sum,
    weighted) where ``weighted`` = sum over pixels of
    (r + 2g + 3b) * (1 + (x + y) % 7) — position-sensitive, so any
    pixel transposition or channel swap in a codec changes it.

    Strict by default (``fake=False``): an undecodable payload raises
    rather than contributing fabricated stats. All sums are int64 on
    uint8 pixels (overflow needs > 2^44 pixels per image)."""
    codecs = _codec_snapshot("image")

    def _row(mid, p):
        if p is None:
            return [(mid,) + (None,) * len(_PIXEL_STATS)]
        img = _decode("image", p, codecs, fake)
        if img is None:
            v = int.from_bytes(hashlib.sha256(p).digest()[:6], "big")
            return [(mid, 0, 0, v, v, v, v)]
        return [(mid, *_pixel_stats(img))]

    return _row_map(df, [id_col, payload_col], _schema(id_col, *_PIXEL_STATS), _row)


def audio_sample_stats(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    fake: bool = False,
) -> DataFrame:
    """Exact integer sample statistics per audio payload — the audio
    counterpart of :func:`image_pixel_stats` (clipping/silence QA, and
    the numerically-replayable proof that a decode path is lossless for
    PCM). The decoded mono float signal is requantized to int16 (exact
    for PCM16: x/32768.0 is dyadic); output: (id_col, n_samples, rate,
    sum_abs, weighted) with ``weighted`` = sum of s_i * (1 + i % 7) —
    position-sensitive, so sample reordering or frame loss flips it.

    Strict by default: an undecodable payload raises rather than
    contributing fabricated stats."""
    codecs = _codec_snapshot("audio")

    def _row(mid, p):
        import numpy as np

        if p is None:
            return [(mid, None, None, None, None)]
        wav = _decode("audio", p, codecs, fake)
        if wav is None:
            v = int.from_bytes(hashlib.sha256(p).digest()[:6], "big")
            return [(mid, 0, 0, v, v)]
        x, rate = wav
        s = np.rint(np.asarray(x, dtype=np.float64) * 32768.0).astype(np.int64)
        wt = 1 + np.arange(len(s), dtype=np.int64) % 7
        return [(mid, len(s), int(rate), int(np.abs(s).sum()), int((s * wt).sum()))]

    out_schema = _schema(id_col, "n_samples", "rate", "sum_abs", "weighted")
    return _row_map(df, [id_col, payload_col], out_schema, _row)


def video_frame_stats(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    fake: bool = False,
) -> DataFrame:
    """Exact integer pixel statistics PER FRAME of a video payload —
    the video counterpart of :func:`image_pixel_stats` (black/frozen
    frame triage, and the replayable proof that a demux+decode path is
    lossless). One output row per frame (explode shape):
    (id_col, frame_idx, height, width, r_sum, g_sum, b_sum, weighted)
    with the same position-sensitive ``weighted`` formula as
    ``image_pixel_stats``, so a dropped, reordered, or corrupted frame
    flips a row.

    Decodes concatenated-PPM streams and registered video codecs (e.g.
    PNG/MJPEG-in-MP4, operators/mp4.py). Strict by default."""
    codecs = _codec_snapshot("video")

    def _rows(mid, p):
        import numpy as np

        if p is None:
            return []
        frames = _decode("video", p, codecs, fake)
        if frames is None:
            d = hashlib.sha256(p).digest()
            frames = [np.full((1, 1, 3), d[i] % 256, dtype=np.uint8) for i in range(2)]
        return [(mid, fi, *_pixel_stats(img)) for fi, img in enumerate(frames)]

    out_schema = _schema(id_col, "frame_idx", *_PIXEL_STATS)
    return _row_map(df, [id_col, payload_col], out_schema, _rows)


def resize_images(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    width: int = 224,
    height: int = 224,
    fake: bool = True,
) -> DataFrame:
    """Resize images to (width, height); returns (id, payload binary,
    width, height). PPM payloads get a REAL nearest-neighbor resize
    (numpy index gather) re-encoded as PPM; other formats fall back to a
    deterministic pseudo-blob (or raise in strict mode)."""
    codecs = _codec_snapshot("image")

    def _row(mid, p):
        import numpy as np

        if p is None:
            return [(mid, None, width, height)]
        img = _decode("image", p, codecs, fake)
        if img is None:
            blob = hashlib.sha256(p + f"{width}x{height}".encode()).digest()
            return [(mid, blob, width, height)]
        # custom-decoded images are re-encoded as PPM (the engine's
        # uncompressed interchange format)
        h, w = img.shape[:2]
        rows = (np.arange(height) * h) // height
        cols = (np.arange(width) * w) // width
        return [(mid, encode_ppm(img[rows][:, cols]), width, height)]

    out_schema = _schema(
        id_col,
        ("payload", T.BinaryType()),
        ("width", T.IntegerType()),
        ("height", T.IntegerType()),
    )
    return _row_map(df, [id_col, payload_col], out_schema, _row)


def sample_video_frames(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    n_frames: int = 4,
    fake: bool = True,
) -> DataFrame:
    """Sample ``n_frames`` evenly-spaced frames per video; one output ROW
    per frame (explode shape): (id, frame_idx, frame binary).

    Concatenated-PPM streams are split and sampled for real (each
    emitted frame is itself a decodable PPM); other containers fall back
    to per-index payload hashes (or raise in strict mode)."""
    codecs = _codec_snapshot("video")

    def _rows(mid, p):
        if p is None:
            return []
        # a PPM stream's frames are emitted as the stream's own bytes, so
        # the split runs before _decode (which returns decoded arrays)
        frames = _split_ppm_stream(p)
        if not frames:
            decoded = _decode("video", p, codecs, fake)
            if decoded is None:
                return [
                    (mid, i, hashlib.sha256(p + i.to_bytes(4, "little")).digest())
                    for i in range(n_frames)
                ]
            # custom frames re-encode as PPM for the output
            frames = [encode_ppm(fr) for fr in decoded]
        # evenly spaced positions over the frame list
        k = min(n_frames, len(frames))
        return [(mid, i, frames[(i * len(frames)) // k]) for i in range(k)]

    out_schema = _schema(
        id_col, ("frame_idx", T.IntegerType()), ("frame", T.BinaryType())
    )
    return _row_map(df, [id_col, payload_col], out_schema, _rows)


def extract_audio_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    dim: int = 32,
    fake: bool = True,
) -> DataFrame:
    """Audio feature extraction: frame the signal, compute per-frame RMS
    energy, pool frame energies into a ``dim``-length vector (mean +
    delta banding — the pooling shape a real MFCC pipeline produces).
    Output: (id, n_frames, features array<float>).

    PCM16 WAV payloads are decoded for real (stdlib ``wave``): frames
    are 25 ms windows of the mono signal. Other formats frame the raw
    bytes into 1024-byte windows with hashed pseudo-energies (or raise
    in strict mode)."""
    codecs = _codec_snapshot("audio")

    def _row(mid, p):
        import numpy as np

        if p is None:
            return [(mid, 0, None)]
        wav = _decode("audio", p, codecs, fake)
        if wav is None:
            step = _FAKE_FRAME_BYTES
            chunks = [p[o : o + step] for o in range(0, max(len(p), 1), step)]
            energies = [
                sum(hashlib.sha256(c + i.to_bytes(4, "little")).digest()[:8])
                / (8 * 255.0)
                for i, c in enumerate(chunks)
            ]
        else:
            x, rate = wav
            flen = max(1, (rate * _FRAME_MS) // 1000)
            energies = [
                float(np.sqrt(np.mean(x[o : o + flen] ** 2)))
                for o in range(0, len(x), flen)
            ]
            if not energies:  # a signal with no samples: no frames
                return [(mid, 0, None)]
        # pool per-frame energies into dim bands: band mean + first
        # difference (delta), cycled to fill dim
        n, vec = len(energies), []
        for k in range(dim):
            e = energies[k % n]
            vec.append(e if k % 2 == 0 else e - energies[(k - 1) % n])
        return [(mid, n, vec)]

    out_schema = _schema(
        id_col,
        ("n_frames", T.IntegerType()),
        ("features", T.ArrayType(T.FloatType())),
    )
    return _row_map(df, [id_col, payload_col], out_schema, _row)


def _ahash64(img) -> int:
    """64-bit average hash: 8x8 nearest-neighbor luminance grid, bit i =
    cell_i > grid mean. Near-identical images differ in a few bits;
    unrelated images differ in ~32.

    EXACT integer arithmetic: cell > mean is evaluated as the
    cross-multiplied 3*lum*64 > sum(3*lum) on integer channel sums, so
    the hash is bit-stable across engines and platforms (a float mean
    flips cells that sit exactly ON the mean)."""
    h, w, _ = img.shape
    lum3 = img.astype(int).sum(axis=2)  # 3x luminance, exact int
    cells = []
    for gy in range(8):
        for gx in range(8):
            y = min(int((gy + 0.5) * h / 8), h - 1)
            x = min(int((gx + 0.5) * w / 8), w - 1)
            cells.append(int(lum3[y, x]))
    total = sum(cells)
    bits = 0
    for i, c in enumerate(cells):
        if c * 64 > total:
            bits |= 1 << i
    # interpret as signed 64-bit for Spark LongType
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def image_ahash(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    fake: bool = True,
) -> DataFrame:
    """Perceptual average-hash per image: (id, ahash long). Real for
    PPM / registered codecs; deterministic fake fallback (strict mode
    raises) — same codec policy as :func:`decode_image_features`.
    One Arrow-batched pass, zero shuffle."""
    codecs = _codec_snapshot("image")

    def _row(mid, p):
        if p is None:
            return [(mid, None)]
        img = _decode("image", p, codecs, fake)
        if img is not None:
            return [(mid, _ahash64(img))]
        h = int.from_bytes(hashlib.md5(p).digest()[:8], "big")
        return [(mid, h - (1 << 64) if h >= (1 << 63) else h)]

    return _row_map(df, [id_col, payload_col], _schema(id_col, "ahash"), _row)


def image_near_dup_pairs(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    max_hamming: int = 3,
    bands: int = 4,
    fake: bool = True,
) -> DataFrame:
    """Near-duplicate image pairs: average-hash each image, band the 64
    bits into ``bands`` chunks, self-join only rows agreeing on at least
    one whole band (a hash pair within ``max_hamming < bands`` bits MUST
    agree on some band — pigeonhole, so recall is exact for small
    distances), then verify exact Hamming via ``bit_count(xor)``. The
    image-side mirror of :func:`~hybridbackend_spark.operators.dedup.
    simhash_candidates`; candidate volume is bounded by band-bucket
    collisions, never all pairs.

    Returns (id_a, id_b, hamming).

    .. note:: signature change in round 6 — the default ``max_hamming``
       dropped 6→3 and ``max_hamming >= bands`` now raises ``ValueError``
       (the pigeonhole recall proof needs ``bands > max_hamming``; the
       old default pair (6, bands=4) silently missed pairs). Callers on
       the previous default must either lower ``max_hamming`` or raise
       ``bands`` (e.g. 8) to keep exact recall.
    """
    if not (0 < bands <= 64) or 64 % bands != 0:
        raise ValueError("bands must divide 64")
    if max_hamming >= bands:
        # the pigeonhole recall proof needs more bands than flipped
        # bits: with B bands a pair differing in >= B bits can spread
        # one flip into every band and never collide
        raise ValueError(
            f"max_hamming={max_hamming} requires bands > max_hamming "
            f"(got {bands}): band recall is only exact below the band "
            "count"
        )
    width = 64 // bands
    hashed = image_ahash(df, payload_col, id_col, fake)
    band_cols = [
        F.expr(
            f"cast((ahash >> {b * width}) & {(1 << width) - 1} as bigint)"
        ).alias("bucket")
        for b in range(bands)
    ]
    banded = hashed.select(
        F.col(id_col),
        F.col("ahash"),
        F.posexplode(F.array(*band_cols)).alias("band", "bucket"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.ahash").alias("_ha"),
            F.col("b.ahash").alias("_hb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.expr("_ha ^ _hb"))
    return (
        cands.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def detect_scene_cuts(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    threshold: float = 30.0,
    fake: bool = True,
) -> DataFrame:
    """Scene-cut detection per video: consecutive decoded frames compare
    by mean absolute luminance difference; a jump above ``threshold``
    (0-255 scale) marks a cut. Output one row per frame TRANSITION:
    (id, frame_idx, diff, is_cut) — frame_idx is the right frame of the
    pair. Real for concatenated-PPM streams / registered codecs;
    deterministic fake diffs otherwise (strict mode raises).

    The shot-segmentation primitive of video curation pipelines — cuts
    bound the clips later stages sample/caption. Arrow-batched, zero
    shuffle."""
    codecs = _codec_snapshot("video")

    def _rows(mid, p):
        if p is None:
            return []
        frames = _decode("video", p, codecs, fake)
        if frames is None:
            h = int.from_bytes(hashlib.sha256(p).digest()[:4], "big")
            return [(mid, 1, float(h % 256), (h % 256) > threshold)]
        out = []
        for i in range(1, len(frames)):
            a = frames[i - 1].mean(axis=2)
            b = frames[i].mean(axis=2)
            # a resolution change is a hard cut
            d = 255.0 if a.shape != b.shape else float(abs(a - b).mean())
            out.append((mid, i, round(d, 4), d > threshold))
        return out

    out_schema = _schema(
        id_col,
        ("frame_idx", T.IntegerType()),
        ("diff", T.DoubleType()),
        ("is_cut", T.BooleanType()),
    )
    return _row_map(df, [id_col, payload_col], out_schema, _rows)
