"""Real PNG/WAV/Y4M codecs (ops/codecs.py): round-trips through every PNG
filter type and channel count, real features through the Spark
``extract_features`` operator, poison-pill behavior on corrupt payloads."""

import numpy as np
import pytest

from gojsonschema_spark.ops.codecs import (decode_png, decode_wav,
                                           encode_png, encode_wav,
                                           png_feature_decoder, png_resizer,
                                           wav_feature_decoder)


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_png_roundtrip_all_filters(filter_type, channels):
    """encode(filter=f) -> decode must reproduce the array exactly for
    every scanline filter (None/Sub/Up/Average/Paeth) and color type
    (grey, grey+alpha, RGB, RGBA) — the forward filter and the decoder's
    reconstruction are independent implementations, so the round-trip
    genuinely exercises each unfilter path."""
    rng = np.random.RandomState(7 * filter_type + channels)
    arr = rng.randint(0, 256, size=(13, 9, channels), dtype=np.uint8)
    out = decode_png(encode_png(arr, filter_type=filter_type))
    assert out.shape == arr.shape
    assert np.array_equal(out, arr)


def test_png_decode_rejects_garbage():
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"GIF89a not a png")
    # valid signature, truncated body
    good = encode_png(np.zeros((4, 4, 3), dtype=np.uint8))
    with pytest.raises(ValueError):
        decode_png(good[:20])


def test_png_feature_decoder_values():
    arr = np.zeros((2, 2, 3), dtype=np.uint8)
    arr[0, 0] = 255  # one white pixel
    w, h, c, mean, std, mn, mx, edge = png_feature_decoder(encode_png(arr))
    assert (w, h, c) == (2.0, 2.0, 3.0)
    assert mn == 0.0 and mx == 1.0
    assert abs(mean - 0.25) < 1e-12
    assert edge > 0.0  # white-black boundary has gradient energy


def test_png_resizer_nearest():
    rng = np.random.RandomState(3)
    arr = rng.randint(0, 256, size=(4, 6, 3), dtype=np.uint8)
    small = decode_png(png_resizer(encode_png(arr), width=3, height=2))
    ys = (np.arange(2) * 4) // 2
    xs = (np.arange(3) * 6) // 3
    assert np.array_equal(small, arr[ys][:, xs])


def test_wav_roundtrip_and_features():
    rate = 8000
    t = np.arange(rate) / rate                      # 1 second
    sig = 0.5 * np.sin(2 * np.pi * 440 * t)
    payload = encode_wav(sig, rate=rate)
    data, got_rate = decode_wav(payload)
    assert got_rate == rate and data.shape == (rate, 1)
    assert np.abs(data[:, 0] - sig).max() < 1.0 / 32000  # 16-bit quantization

    dur, r, ch, rms, peak, zcr = wav_feature_decoder(payload)
    assert (dur, r, ch) == (1.0, float(rate), 1.0)
    assert abs(rms - 0.5 / np.sqrt(2)) < 1e-3       # sine RMS = A/sqrt(2)
    assert abs(peak - 0.5) < 1e-3
    assert abs(zcr - 2 * 440 / rate) < 1e-3         # 2 crossings per cycle


def test_real_codecs_through_spark_multimodal(spark):
    """The mapInPandas plumbing runs the REAL codecs end to end: feature
    extraction returns genuine image statistics and corrupt payloads
    poison-pill to NULL."""
    from gojsonschema_spark.ops.multimodal import extract_features

    rng = np.random.RandomState(11)
    imgs = {f"k{i}": rng.randint(0, 256, size=(8, 8, 3), dtype=np.uint8)
            for i in range(4)}
    rows = [(k, bytearray(encode_png(v))) for k, v in imgs.items()]
    rows.append(("bad", bytearray(b"not an image at all")))
    df = spark.createDataFrame(rows, "key string, payload binary")

    feats = {r.key: r.feature for r in
             extract_features(df, decoder=png_feature_decoder).collect()}
    assert feats["bad"] is None
    for k, arr in imgs.items():
        f = arr.astype(np.float64) / 255.0
        got = feats[k]
        assert got is not None and len(got) == 8
        assert abs(got[3] - f.mean()) < 1e-6        # float32 column
        assert (got[0], got[1], got[2]) == (8.0, 8.0, 3.0)


def test_y4m_roundtrip_and_sampler():
    from gojsonschema_spark.ops.codecs import (decode_y4m, encode_y4m,
                                               y4m_frame_sampler)

    rng = np.random.RandomState(5)
    frames = [rng.randint(0, 256, size=(6, 8), dtype=np.uint8)
              for _ in range(10)]
    clip = encode_y4m(frames, fps=(10, 1))          # 100 ms/frame
    back, (num, den) = decode_y4m(clip)
    assert (num, den) == (10, 1) and len(back) == 10
    for a, b in zip(frames, back):
        assert np.array_equal(a, b)
    # sample every 250 ms of a 10 fps stream: frames 0, 3, 6, 9
    # (ts 0/300/600/900 — first frame at/after each 250 ms boundary)
    sampled = y4m_frame_sampler(clip, every_ms=250)
    assert [(i, ts) for i, _, ts in sampled] == [
        (0, 0), (3, 300), (6, 600), (9, 900)]
    # sampled frames are real PNGs of the luma plane
    assert np.array_equal(decode_png(sampled[1][1]), frames[3][:, :, None])


def test_y4m_c420_layout_and_failures():
    from gojsonschema_spark.ops.codecs import decode_y4m

    # hand-built C420 stream: luma plane read, chroma skipped
    luma = bytes(range(16))                          # 4x4
    chroma = b"\x80" * 8                             # two 2x2 planes
    clip = (b"YUV4MPEG2 W4 H4 F25:1 C420\n"
            b"FRAME\n" + luma + chroma +
            b"FRAME\n" + luma[::-1] + chroma)
    frames, fps = decode_y4m(clip)
    assert fps == (25, 1) and len(frames) == 2
    assert frames[0].tolist()[0] == [0, 1, 2, 3]
    assert frames[1].tolist()[0] == [15, 14, 13, 12]
    with pytest.raises(ValueError, match="truncated"):
        decode_y4m(clip[:-5])
    with pytest.raises(ValueError, match="not a YUV4MPEG2"):
        decode_y4m(b"RIFFxxxx")
    with pytest.raises(ValueError, match="colourspace"):
        decode_y4m(b"YUV4MPEG2 W2 H2 C999\nFRAME\n" + b"\0" * 6)
    with pytest.raises(ValueError, match="FRAME"):
        decode_y4m(b"YUV4MPEG2 W2 H2 Cmono\nXRAME\n" + b"\0" * 4)
