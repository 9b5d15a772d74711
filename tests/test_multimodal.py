import pytest

from hybridbackend_spark.operators.multimodal import (
    decode_image_features,
    resize_images,
    sample_video_frames,
    with_media_meta,
)


@pytest.fixture()
def media(spark):
    rows = [(i, bytes([i]) * 100) for i in range(10)]
    return spark.createDataFrame(rows, "media_id: long, payload: binary")


def test_with_media_meta(media):
    out = with_media_meta(media, "payload", "image/png", width=64, height=48)
    row = out.first()
    assert row["meta"]["mime"] == "image/png"
    assert row["meta"]["width"] == 64


def test_decode_image_features_deterministic(media):
    a = decode_image_features(media, dim=16).collect()
    b = decode_image_features(media, dim=16).collect()
    got_a = {r["media_id"]: r["features"] for r in a}
    got_b = {r["media_id"]: r["features"] for r in b}
    assert got_a == got_b
    assert all(len(v) == 16 for v in got_a.values())
    assert got_a[0] != got_a[1]  # payload-dependent


def test_decode_strict_raises(media):
    import py4j

    with pytest.raises(Exception) as ei:
        decode_image_features(media, fake=False).collect()
    assert "NotImplementedError" in str(ei.value) or "codec" in str(ei.value)


def test_resize_images(media):
    out = resize_images(media, width=32, height=32).collect()
    assert len(out) == 10
    assert all(r["width"] == 32 and r["height"] == 32 for r in out)
    assert all(r["payload"] is not None for r in out)


def test_sample_video_frames_explodes(media):
    out = sample_video_frames(media, n_frames=3).collect()
    assert len(out) == 30
    frames0 = [r for r in out if r["media_id"] == 0]
    assert sorted(r["frame_idx"] for r in frames0) == [0, 1, 2]
    # distinct frames per index
    assert len({bytes(r["frame"]) for r in frames0}) == 3


def test_extract_audio_features(spark):
    from hybridbackend_spark.operators.multimodal import extract_audio_features

    rows = [(i, bytes([i % 251]) * (1500 + 700 * i)) for i in range(4)]
    media = spark.createDataFrame(rows, "media_id: long, payload: binary")
    out = {r["media_id"]: r for r in extract_audio_features(media, dim=8).collect()}
    # frame count follows payload length, not a constant
    assert out[0]["n_frames"] == 2 and out[3]["n_frames"] == 4
    assert all(len(r["features"]) == 8 for r in out.values())
    # deterministic and payload-dependent
    again = {r["media_id"]: r for r in extract_audio_features(media, dim=8).collect()}
    assert out[1]["features"] == again[1]["features"]
    assert out[1]["features"] != out[2]["features"]


def _ppm(w, h, seed):
    import numpy as np

    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    from hybridbackend_spark.operators.multimodal import encode_ppm

    return img, encode_ppm(img)


def test_ppm_decode_real_grid_features(spark):
    import numpy as np

    from hybridbackend_spark.operators.multimodal import decode_image_features

    img, blob = _ppm(16, 16, 3)
    df = spark.createDataFrame([(1, bytearray(blob))], ["media_id", "payload"])
    out = decode_image_features(df, dim=48, fake=False).collect()
    assert len(out) == 1
    feats = out[0]["features"]
    assert len(feats) == 48
    # first cell = mean of the top-left 4x4 block, channel 0
    expect = img[:4, :4].reshape(-1, 3).mean(axis=0) / 255.0
    assert abs(feats[0] - expect[0]) < 1e-6
    assert abs(feats[1] - expect[1]) < 1e-6


def test_ppm_resize_real_nearest_neighbor(spark):
    import numpy as np

    from hybridbackend_spark.operators.multimodal import (
        _parse_ppm,
        resize_images,
    )

    img, blob = _ppm(8, 6, 4)
    df = spark.createDataFrame([(1, bytearray(blob))], ["media_id", "payload"])
    out = resize_images(df, width=4, height=3, fake=False).collect()[0]
    resized = _parse_ppm(bytes(out["payload"]))
    assert resized.shape == (3, 4, 3)
    rows = (np.arange(3) * 6) // 3
    cols = (np.arange(4) * 8) // 4
    assert (resized == img[rows][:, cols]).all()


def test_ppm_video_stream_real_frames(spark):
    from hybridbackend_spark.operators.multimodal import (
        _parse_ppm,
        sample_video_frames,
    )

    frames = [_ppm(4, 4, s) for s in range(6)]
    stream = b"".join(b for _, b in frames)
    df = spark.createDataFrame([(9, bytearray(stream))], ["media_id", "payload"])
    out = sample_video_frames(df, n_frames=3, fake=False).collect()
    assert len(out) == 3
    # frames 0, 2, 4 of 6 (evenly spaced), each a decodable PPM
    picked = [_parse_ppm(bytes(r["frame"])) for r in sorted(out, key=lambda r: r["frame_idx"])]
    for got, (want, _) in zip(picked, [frames[0], frames[2], frames[4]]):
        assert (got == want).all()


def test_split_ppm_stream_frames():
    """Frames of different sizes, one header carrying a comment, then a
    truncated tail: the split returns each whole frame's bytes, in order,
    and stops at the tail; a header not at offset 0 is not a frame."""
    from hybridbackend_spark.operators.multimodal import (
        _parse_ppm,
        _split_ppm_stream,
    )

    frames = [_ppm(4 + s, 3 + 2 * s, s)[1] for s in range(5)]
    frames[2] = b"P6\n# frame two\n" + frames[2][3:]
    stream = b"".join(frames)
    assert _split_ppm_stream(stream) == frames
    assert _split_ppm_stream(stream + frames[0][:-1]) == frames
    assert _split_ppm_stream(b" " + stream) == []
    assert _parse_ppm(b" " + frames[0]) is None


def test_extract_audio_features_empty_wav(spark):
    import io
    import wave

    from hybridbackend_spark.operators.multimodal import extract_audio_features

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(b"")
    df = spark.createDataFrame(
        [(1, bytearray(buf.getvalue())), (2, None)], "media_id long, payload binary"
    )
    out = extract_audio_features(df, dim=8, fake=False).collect()
    # no samples: the row a NULL payload gets, not a NaN vector
    assert sorted(tuple(r) for r in out) == [(1, 0, None), (2, 0, None)]


def test_video_operators_agree_on_a_stream_with_a_bad_frame(spark):
    """A P6 stream whose second header declares maxval 65535 (which
    _parse_ppm rejects) ends at that frame for all three video
    operators: they see the same one-frame list in strict and fake
    mode, and the good frame after the bad one is not picked up."""
    import numpy as np

    from hybridbackend_spark.operators.multimodal import (
        detect_scene_cuts,
        encode_ppm,
        sample_video_frames,
        video_frame_stats,
    )

    first = encode_ppm(np.arange(12, dtype=np.uint8).reshape(2, 2, 3))
    after = encode_ppm(np.full((2, 2, 3), 200, dtype=np.uint8))
    stream = first + b"P6\n2 2\n65535\n" + bytes(12) + after
    df = spark.createDataFrame([(7, bytearray(stream))], "media_id long, payload binary")
    for fake in (False, True):
        stats = video_frame_stats(df, fake=fake).collect()
        assert [(r.frame_idx, r.height, r.width, r.r_sum) for r in stats] == [
            (0, 2, 2, 0 + 3 + 6 + 9)
        ]
        frames = sample_video_frames(df, fake=fake).collect()
        assert [(r.frame_idx, bytes(r.frame)) for r in frames] == [(0, first)]
        assert detect_scene_cuts(df, fake=fake).collect() == []


def test_wav_decode_real_rms(spark):
    import io
    import math
    import wave

    import numpy as np

    from hybridbackend_spark.operators.multimodal import extract_audio_features

    rate = 8000
    t = np.arange(rate) / rate  # 1 second
    sig = (0.5 * np.sin(2 * math.pi * 440 * t) * 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(sig.tobytes())
    df = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()))], ["media_id", "payload"]
    )
    out = extract_audio_features(df, dim=8, fake=False).collect()[0]
    # 1s / 25ms = 40 frames; sine RMS = amplitude / sqrt(2) ~= 0.3536
    assert out["n_frames"] == 40
    assert abs(out["features"][0] - 0.5 / math.sqrt(2)) < 0.01
    # delta bands hover near zero for a stationary signal
    assert abs(out["features"][1]) < 0.01


def test_strict_mode_still_raises_for_compressed(spark):
    import pytest

    from hybridbackend_spark.operators.multimodal import decode_image_features

    df = spark.createDataFrame(
        [(1, bytearray(b"\xff\xd8\xff\xe0 fake jpeg"))], ["media_id", "payload"]
    )
    with pytest.raises(Exception, match="NotImplementedError|codec|decodable"):
        decode_image_features(df, fake=False).collect()


# --- pluggable codec registry -------------------------------------------


def _stub_blob(w, h, seed):
    import numpy as np

    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    return img, b"STUBJPG" + bytes([w, h]) + img.tobytes()


def test_registered_image_codec_end_to_end(spark):
    from hybridbackend_spark.operators.multimodal import (
        decode_image_features,
        register_codec,
        resize_images,
        unregister_codec,
    )

    # nested def: cloudpickle ships it by value to the executors (a
    # module-level function in a test file is pickled by reference and
    # the workers cannot import the test module)
    def stubjpg_decode(payload):
        """Pretend-JPEG codec: magic b'STUBJPG' + w + h + raw RGB."""
        import numpy as np

        w, h = payload[7], payload[8]
        body = payload[9 : 9 + w * h * 3]
        if len(body) < w * h * 3:
            return None
        return np.frombuffer(body, dtype=np.uint8).reshape(h, w, 3)

    img, blob = _stub_blob(8, 8, 5)
    df = spark.createDataFrame([(1, bytearray(blob))], ["media_id", "payload"])
    register_codec("image", "stubjpg", b"STUBJPG", stubjpg_decode)
    try:
        # strict mode now decodes instead of raising
        feats = decode_image_features(df, dim=12, fake=False).collect()[0][
            "features"
        ]
        expect = img[:2, :2].reshape(-1, 3).mean(axis=0) / 255.0
        assert abs(feats[0] - expect[0]) < 1e-6
        # resize round-trips through the codec into real PPM output
        out = resize_images(df, width=4, height=4, fake=False).collect()[0]
        assert out["payload"].startswith(b"P6")
        assert out["width"] == 4
    finally:
        unregister_codec("image", "stubjpg")
    # after unregistering, strict mode raises again (new plan, new snapshot)
    with pytest.raises(Exception) as ei:
        decode_image_features(df, dim=12, fake=False).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def test_registered_audio_codec_end_to_end(spark):
    import numpy as np

    from hybridbackend_spark.operators.multimodal import (
        extract_audio_features,
        register_codec,
        unregister_codec,
    )

    def stubmp3_decode(payload):
        """Pretend-MP3 codec: magic b'STUBMP3' then PCM16 at 8 kHz."""
        import numpy as np

        x = np.frombuffer(payload[7:], dtype="<i2").astype("float64") / 32768.0
        return x, 8000

    x = (np.sin(np.arange(1600) / 10.0) * 16384).astype("<i2")
    blob = b"STUBMP3" + x.tobytes()
    df = spark.createDataFrame([(1, bytearray(blob))], ["media_id", "payload"])
    register_codec("audio", "stubmp3", b"STUBMP3", stubmp3_decode)
    try:
        out = extract_audio_features(df, dim=8, fake=False).collect()[0]
        # 1600 samples at 8kHz with 25ms frames (200 samples) = 8 frames
        assert out["n_frames"] == 8
        # real RMS of a sine wave ~ amplitude/sqrt(2)
        assert abs(out["features"][0] - 0.5 / np.sqrt(2)) < 0.05
    finally:
        unregister_codec("audio", "stubmp3")


def test_image_ahash_stable_under_small_noise(spark):
    import numpy as np

    from hybridbackend_spark.operators.multimodal import encode_ppm, image_ahash

    img, raw = _ppm(32, 32, seed=5)
    # near-dup: flip a couple of pixels slightly
    noisy = img.copy()
    noisy[0, 0] = (noisy[0, 0].astype(int) + 3).clip(0, 255).astype(np.uint8)
    other, raw_other = _ppm(32, 32, seed=99)
    df = spark.createDataFrame(
        [(1, bytearray(raw)), (2, bytearray(encode_ppm(noisy))),
         (3, bytearray(raw_other))],
        "media_id: long, payload: binary",
    )
    h = {r["media_id"]: r["ahash"] for r in image_ahash(df).collect()}
    near = bin((h[1] ^ h[2]) & ((1 << 64) - 1)).count("1")
    far = bin((h[1] ^ h[3]) & ((1 << 64) - 1)).count("1")
    assert near <= 4
    assert far > 10


def test_image_near_dup_pairs_banded(spark):
    import numpy as np

    from hybridbackend_spark.operators.multimodal import (
        encode_ppm,
        image_near_dup_pairs,
    )

    img, raw = _ppm(24, 24, seed=11)
    noisy = img.copy()
    noisy[3, 3] = (noisy[3, 3].astype(int) + 2).clip(0, 255).astype(np.uint8)
    rows = [(1, bytearray(raw)), (2, bytearray(encode_ppm(noisy)))]
    for i in range(3, 9):  # unrelated images
        rows.append((i, bytearray(_ppm(24, 24, seed=100 + i)[1])))
    df = spark.createDataFrame(rows, "media_id: long, payload: binary")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in image_near_dup_pairs(df, max_hamming=3).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] <= 3
    assert all({a, b} == {1, 2} for (a, b) in pairs)


def test_detect_scene_cuts_real_frames(spark):
    import numpy as np

    from hybridbackend_spark.operators.multimodal import (
        detect_scene_cuts,
        encode_ppm,
    )

    dark = np.zeros((8, 8, 3), dtype=np.uint8)
    dark2 = dark.copy(); dark2[0, 0] = 2          # tiny wiggle, no cut
    bright = np.full((8, 8, 3), 200, dtype=np.uint8)  # hard cut
    stream = encode_ppm(dark) + encode_ppm(dark2) + encode_ppm(bright)
    df = spark.createDataFrame(
        [(1, bytearray(stream))], "media_id: long, payload: binary"
    )
    out = sorted(
        (r["frame_idx"], r["is_cut"], r["diff"])
        for r in detect_scene_cuts(df, threshold=30.0).collect()
    )
    assert len(out) == 2
    assert out[0][1] is False and out[0][2] < 1.0     # dark -> dark2
    assert out[1][1] is True and out[1][2] > 150.0    # dark2 -> bright


def test_image_near_dup_band_precondition_enforced(spark):
    import pytest

    from hybridbackend_spark.operators.multimodal import image_near_dup_pairs

    df = spark.createDataFrame([(1, bytearray(b"x"))], "media_id long, payload binary")
    # pigeonhole recall is only exact for max_hamming < bands
    with pytest.raises(ValueError, match="bands"):
        image_near_dup_pairs(df, max_hamming=6, bands=4)
    with pytest.raises(ValueError, match="divide"):
        image_near_dup_pairs(df, max_hamming=2, bands=5)
