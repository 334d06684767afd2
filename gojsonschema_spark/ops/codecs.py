"""REAL pure-stdlib media codecs.

The container has no PIL/libav, but PNG (RFC 2083: zlib + per-scanline
filters), WAV (RIFF PCM, stdlib ``wave``) and Y4M video (YUV4MPEG2 —
uncompressed planar frames behind a plain-text header) need nothing
beyond zlib/struct/wave + numpy — so these are actual decoders, not
stubs: a user can extract real image statistics, resize a real PNG,
compute real audio features, or sample real video frames without
injecting anything. :func:`png_feature_decoder` and
:func:`wav_feature_decoder` plug into ops/multimodal.py's ``decoder=``
hook (whose default remains the fast deterministic stub);
:func:`png_resizer` and :func:`y4m_frame_sampler` are plain
``bytes -> bytes`` / ``bytes -> frames`` functions.

Scope (documented, raises beyond it): PNG bit depth 8, color types
0/2/4/6 (grey, RGB, grey+alpha, RGBA), non-interlaced — the shapes a
web-crawl thumbnail pipeline actually processes; WAV 8/16-bit integer
PCM; Y4M 420/422/444/mono colourspaces (luma plane read, chroma
skipped; compressed codecs like h264 remain injection points).
Executors import only stdlib + numpy; through ``extract_features``
payloads decode row-batch at a time inside mapInPandas, never on the
driver.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

__all__ = ["decode_png", "encode_png", "png_feature_decoder", "png_resizer",
           "decode_wav", "encode_wav", "wav_feature_decoder",
           "decode_y4m", "encode_y4m", "y4m_frame_sampler"]

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type -> samples per pixel


def _chunks(data: bytes):
    pos = 8
    while pos + 8 <= len(data):
        (length,), ctype = struct.unpack(">I", data[pos:pos + 4]), \
            data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated PNG chunk")
        yield ctype, body
        pos += 12 + length  # len + type + body + crc
        if ctype == b"IEND":
            return
    raise ValueError("missing IEND")


def decode_png(payload: bytes) -> np.ndarray:
    """Decode a PNG into a (height, width, channels) uint8 array.

    Full filter support (None/Sub/Up/Average/Paeth per scanline); Sub
    and Up are vectorized, Average/Paeth walk the row (small images —
    thumbnails — are the target payload)."""
    if payload is None or len(payload) < 8 or payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    width = height = None
    channels = None
    idat = bytearray()
    for ctype, body in _chunks(bytes(payload)):
        if ctype == b"IHDR":
            width, height, depth, color, comp, filt, interlace = \
                struct.unpack(">IIBBBBB", body)
            if depth != 8:
                raise ValueError(f"unsupported bit depth {depth}")
            if color not in _CHANNELS:
                raise ValueError(f"unsupported color type {color}")
            if interlace != 0:
                raise ValueError("interlaced PNG unsupported")
            if comp != 0 or filt != 0:
                raise ValueError("nonstandard compression/filter method")
            channels = _CHANNELS[color]
        elif ctype == b"IDAT":
            idat.extend(body)
    if width is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != (stride + 1) * height:
        raise ValueError("bad decompressed length")
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    bpp = channels
    for y in range(height):
        f = raw[y * (stride + 1)]
        line = np.frombuffer(raw, dtype=np.uint8,
                             count=stride, offset=y * (stride + 1) + 1)
        if f == 0:                                   # None
            rec = line.copy()
        elif f == 1:                                 # Sub
            rec = line.astype(np.int64).reshape(-1, bpp)
            rec = (np.cumsum(rec, axis=0) % 256).astype(np.uint8).reshape(-1)
        elif f == 2:                                 # Up
            rec = line + prev                        # uint8 wraps mod 256
        elif f == 3:                                 # Average
            rec = np.empty(stride, dtype=np.uint8)
            for x in range(stride):
                left = int(rec[x - bpp]) if x >= bpp else 0
                rec[x] = (int(line[x]) + ((left + int(prev[x])) >> 1)) & 0xFF
        elif f == 4:                                 # Paeth
            rec = np.empty(stride, dtype=np.uint8)
            for x in range(stride):
                a = int(rec[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[x] = (int(line[x]) + pred) & 0xFF
        else:
            raise ValueError(f"bad filter byte {f}")
        out[y] = rec
        prev = out[y]
    return out.reshape(height, width, channels)


def _filter_row(line: np.ndarray, prev: np.ndarray, bpp: int,
                f: int) -> np.ndarray:
    """Forward filter (the encoder side — the exact inverse of the
    decoder's reconstruction, so a round-trip through any filter type
    exercises that unfilter path)."""
    il = line.astype(np.int64)
    left = np.zeros_like(il)
    left[bpp:] = il[:-bpp]
    up = prev.astype(np.int64)
    upleft = np.zeros_like(up)
    upleft[bpp:] = up[:-bpp]
    if f == 0:
        res = il
    elif f == 1:
        res = il - left
    elif f == 2:
        res = il - up
    elif f == 3:
        res = il - ((left + up) >> 1)
    elif f == 4:
        p = left + up - upleft
        pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
        pred = np.where((pa <= pb) & (pa <= pc), left,
                        np.where(pb <= pc, up, upleft))
        res = il - pred
    else:
        raise ValueError(f"bad filter type {f}")
    return (res % 256).astype(np.uint8)


def encode_png(arr: np.ndarray, filter_type: int = 0) -> bytes:
    """Encode a (H, W) or (H, W, C) uint8 array as a PNG (bit depth 8,
    non-interlaced). ``filter_type`` selects the per-scanline filter —
    useful both for compression and for exercising every decoder filter
    path in tests."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    color = {1: 0, 3: 2, 2: 4, 4: 6}.get(c)
    if color is None:
        raise ValueError(f"unsupported channel count {c}")
    flat = a.reshape(h, w * c)
    prev = np.zeros(w * c, dtype=np.uint8)
    body = bytearray()
    for y in range(h):
        body.append(filter_type)
        body.extend(_filter_row(flat[y], prev, c, filter_type).tobytes())
        prev = flat[y]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(body)))
            + chunk(b"IEND", b""))


def png_feature_decoder(payload: bytes) -> list:
    """Real image features for multimodal.extract_features(decoder=...):
    [width, height, channels, mean, std, min, max, edge-energy] with the
    intensity stats normalized to [0, 1] and edge-energy = mean absolute
    horizontal gradient of the luma plane (a cheap sharpness/texture
    score)."""
    img = decode_png(payload)
    f = img.astype(np.float64) / 255.0
    luma = f.mean(axis=2)
    edge = float(np.abs(np.diff(luma, axis=1)).mean()) if luma.shape[1] > 1 \
        else 0.0
    return [float(img.shape[1]), float(img.shape[0]), float(img.shape[2]),
            float(f.mean()), float(f.std()), float(f.min()), float(f.max()),
            edge]


def png_resizer(payload: bytes, width: int, height: int) -> bytes:
    """Real resize of a PNG payload to ``width`` x ``height``: decode,
    nearest-neighbor resample (pure numpy fancy indexing), re-encode."""
    img = decode_png(payload)
    h, w = img.shape[:2]
    ys = (np.arange(height) * h) // height
    xs = (np.arange(width) * w) // width
    return encode_png(img[ys][:, xs])


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode a RIFF WAV (8/16-bit integer PCM, stdlib ``wave``) into a
    (frames, channels) float64 array in [-1, 1] plus the sample rate."""
    import io
    import wave

    with wave.open(io.BytesIO(bytes(payload))) as wf:
        n, ch, sw, rate = (wf.getnframes(), wf.getnchannels(),
                           wf.getsampwidth(), wf.getframerate())
        raw = wf.readframes(n)
    if sw == 2:
        data = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif sw == 1:
        data = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64)
                - 128.0) / 128.0
    else:
        raise ValueError(f"unsupported sample width {sw}")
    return data.reshape(-1, ch), rate


def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """Encode a (frames,) or (frames, channels) float array in [-1, 1]
    as 16-bit PCM WAV."""
    import io
    import wave

    a = np.asarray(samples, dtype=np.float64)
    if a.ndim == 1:
        a = a[:, None]
    pcm = np.clip(np.round(a * 32767.0), -32768, 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(a.shape[1])
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(pcm.tobytes())
    return buf.getvalue()


def wav_feature_decoder(payload: bytes) -> list:
    """Real audio features for multimodal.extract_features(decoder=...):
    [duration_sec, sample_rate, channels, rms, peak, zero-crossing-rate]
    over the channel-mean signal."""
    data, rate = decode_wav(payload)
    mono = data.mean(axis=1)
    zcr = float(np.mean(np.abs(np.diff(np.signbit(mono).astype(np.int8))))) \
        if len(mono) > 1 else 0.0
    return [float(len(mono)) / rate, float(rate), float(data.shape[1]),
            float(np.sqrt(np.mean(mono ** 2))) if len(mono) else 0.0,
            float(np.max(np.abs(mono))) if len(mono) else 0.0,
            zcr]


# --- Y4M (YUV4MPEG2) video ---------------------------------------------
#
# The one video container decodable with pure stdlib: a plain-text
# header ("YUV4MPEG2 W<w> H<h> F<num>:<den> ... \n") followed by
# uncompressed frames, each "FRAME...\n" + raw planar YUV bytes. It is
# the interchange format of ffmpeg/x264 pipelines, so a real pipeline
# can transcode crawl video to Y4M out-of-band and run THIS sampler;
# compressed codecs (h264 etc.) are not decoded here.

_Y4M_PLANES = {          # colourspace -> chroma plane size factor
    "420": 0.25, "420jpeg": 0.25, "420mpeg2": 0.25, "420paldv": 0.25,
    "422": 0.5, "444": 1.0, "mono": 0.0,
}


def decode_y4m(payload: bytes):
    """Parse a YUV4MPEG2 stream -> (luma_frames, (fps_num, fps_den)).
    Each frame is the (H, W) uint8 luma plane (chroma is skipped, not
    interpreted — sampling/thumbnailing pipelines are luma-driven).
    Raises ValueError on a malformed header or truncated frame (crawl
    payloads must fail loudly, not silently drop tails)."""
    if not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    nl = payload.index(b"\n")
    width = height = None
    num, den = 30, 1
    cs = "420"
    for param in payload[9:nl].split():
        tag, val = chr(param[0]), param[1:].decode("ascii")
        if tag == "W":
            width = int(val)
        elif tag == "H":
            height = int(val)
        elif tag == "F":
            num, den = (int(x) for x in val.split(":"))
        elif tag == "C":
            cs = val
    if not width or not height:
        raise ValueError("Y4M header missing W/H")
    if cs not in _Y4M_PLANES:
        raise ValueError(f"unsupported Y4M colourspace C{cs}")
    luma = width * height
    chroma = int(luma * _Y4M_PLANES[cs]) * 2
    frames = []
    pos = nl + 1
    n = len(payload)
    while pos < n:
        if not payload.startswith(b"FRAME", pos):
            raise ValueError(f"malformed Y4M: no FRAME marker at {pos}")
        fnl = payload.index(b"\n", pos)
        start = fnl + 1
        if start + luma + chroma > n:
            raise ValueError("malformed Y4M: truncated frame")
        frames.append(np.frombuffer(
            payload[start:start + luma], dtype=np.uint8)
            .reshape(height, width).copy())
        pos = start + luma + chroma
    return frames, (num, den)


def encode_y4m(frames, fps: tuple[int, int] = (30, 1)) -> bytes:
    """Serialize (H, W) uint8 luma frames as a Cmono YUV4MPEG2 stream
    (the write half of the round-trip pin; also handy for emitting
    sampled sub-clips)."""
    frames = [np.asarray(f, dtype=np.uint8) for f in frames]
    if not frames:
        raise ValueError("cannot encode empty frame list")
    h, w = frames[0].shape
    out = bytearray(
        f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 Cmono\n"
        .encode("ascii"))
    for f in frames:
        if f.shape != (h, w):
            raise ValueError("inconsistent frame shapes")
        out += b"FRAME\n" + f.tobytes()
    return bytes(out)


def y4m_frame_sampler(payload: bytes, every_ms: int):
    """Real frame sampler of a Y4M payload: decodes the Y4M stream and emits (index, PNG-encoded luma frame,
    timestamp_ms) every ``every_ms`` of stream time (always including
    frame 0) — sampled video frames feed :func:`png_feature_decoder`
    and :func:`png_resizer` unchanged."""
    frames, (num, den) = decode_y4m(payload)
    if num <= 0 or den <= 0:
        raise ValueError("bad Y4M frame rate")
    out = []
    next_ts = 0.0
    for i, frame in enumerate(frames):
        ts = i * 1000.0 * den / num
        if ts + 1e-9 >= next_ts:
            out.append((i, encode_png(frame), int(round(ts))))
            next_ts = ts + every_ms
    return out
