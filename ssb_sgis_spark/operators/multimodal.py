"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` payloads with typed metadata columns — the
lakehouse convention for multimodal training data.  The Spark-side
plumbing (schemas, batching, partitioning, UDF signatures, frame
slicing, block-mean resize) is REAL and tested.  Codecs: BMP (24-bit
uncompressed), WAV (PCM 8/16-bit), PNG (DEFLATE via stdlib zlib +
numpy unfilter), baseline JPEG (T.81 Huffman + DCT, implemented from
the spec in ``kernels/jpeg.py``), MJPEG-AVI video (RIFF walk +
per-frame JPEG) and MP4 (ISO 14496-12 box walker + full sample-table
resolver in ``kernels/mp4.py``; Motion-JPEG samples decode through the
T.81 kernel, and metadata extraction works for ANY codec) are all
decoded FOR REAL in pure stdlib+numpy — this container has no codec
libraries, so the codecs are from scratch.  Inter-frame codecs inside
mp4 (``avc1``/``hev1``) raise a per-row catchable ``ValueError`` naming
the fourcc: motion compensation is out of pure-numpy scope, but the
container layer still parses those files.

All kernels are ``mapInPandas`` over Arrow batches: payload bytes →
numpy (zero-copy frombuffer) → vectorized feature math — the identical
batch shape a PIL/ffmpeg-backed decoder would use.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MEDIA_SCHEMA = (
    "media_id long, kind string, fmt string, width int, height int, "
    "channels int, n_frames int, payload binary"
)


def _decode_raw(payload: bytes, width: int, height: int, channels: int, n_frames: int) -> np.ndarray:
    """The deterministic 'fake' codec: payload IS the pixel buffer
    (uint8, frame-major).  Returns (n_frames, height, width, channels)."""
    a = np.frombuffer(payload, dtype=np.uint8)
    return a.reshape(n_frames, height, width, channels)


def _decode_stub(fmt: str):
    raise NotImplementedError(
        f"codec for {fmt!r} requires an image/audio library not present in "
        "this environment; register one in DECODERS"
    )


# ---------------------------------------------------------- real codecs
# BMP (24-bit uncompressed) and WAV (PCM 8/16-bit) are container formats
# with no compression — parseable with struct + numpy alone, so these
# decoders are REAL, not fakes.  The payload header is authoritative;
# the metadata columns are advisory.

def _decode_bmp(payload: bytes, *_) -> np.ndarray:
    """24-bit uncompressed BMP -> (1, h, w, 3) uint8 RGB (top-down)."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = struct.unpack_from("<I", payload, 10)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise ValueError(f"only 24-bit uncompressed BMP supported (bpp={bpp}, comp={comp})")
    habs = abs(h)
    stride = (w * 3 + 3) // 4 * 4
    a = (
        np.frombuffer(payload, np.uint8, habs * stride, off)
        .reshape(habs, stride)[:, : w * 3]
        .reshape(habs, w, 3)
    )
    if h > 0:  # positive height = bottom-up row order
        a = a[::-1]
    return np.ascontiguousarray(a[..., ::-1])[None]  # BGR -> RGB


def encode_bmp(rgb: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> 24-bit bottom-up BMP bytes."""
    import struct

    h, w, _ = rgb.shape
    stride = (w * 3 + 3) // 4 * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = rgb[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    data = rows.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0
    )
    return header + data


def _decode_wav(payload: bytes, *_) -> np.ndarray:
    """PCM WAV (8-bit unsigned / 16-bit signed) ->
    (1, 1, n_samples, channels); dtype uint8 or int16."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, channels, _rate, _bps, _align, bits = fmt
    if audio_format != 1 or bits not in (8, 16):
        raise ValueError(f"only PCM 8/16-bit WAV supported (fmt={audio_format}, bits={bits})")
    dt = np.uint8 if bits == 8 else np.dtype("<i2")
    a = np.frombuffer(data, dtype=dt)
    a = a[: (len(a) // channels) * channels].reshape(-1, channels)
    return a[None, None]


def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """(n_samples, channels) uint8/int16 -> PCM WAV bytes."""
    import struct

    if samples.ndim == 1:
        samples = samples[:, None]
    bits = samples.dtype.itemsize * 8
    ch = samples.shape[1]
    data = np.ascontiguousarray(samples.astype(samples.dtype.newbyteorder("<"))).tobytes()
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * bits // 8, ch * bits // 8, bits)
    return (
        struct.pack("<4sI4s", b"RIFF", 4 + 8 + len(fmt) + 8 + len(data), b"WAVE")
        + struct.pack("<4sI", b"fmt ", len(fmt)) + fmt
        + struct.pack("<4sI", b"data", len(data)) + data
    )


# ---------------------------------------------------------- PNG codec
# A REAL compressed-image codec in pure numpy + stdlib zlib: PNG is
# DEFLATE (stdlib) + per-row byte filters (numpy).  Decoder supports
# 8-bit greyscale (color 0), RGB (2), palette (3, incl. tRNS alpha),
# grey+alpha (4) and RGBA (6), all five filter types, multi-IDAT
# streams.  Adam7 interlace and non-8-bit depths raise cleanly.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse the per-row PNG filters.  Row-sequential by spec; within a
    row, Sub is a vectorized lane-cumsum and Up is one vector add — only
    Average/Paeth walk pixels (bpp-wide vector ops per step)."""
    buf = np.frombuffer(raw, dtype=np.uint8)
    if len(buf) != h * (stride + 1):
        raise ValueError("PNG: decompressed size mismatch")
    out = np.empty((h, stride), np.uint8)
    prev = np.zeros(stride, np.int64)
    for y in range(h):
        base = y * (stride + 1)
        f = int(buf[base])
        row = buf[base + 1 : base + 1 + stride].astype(np.int64)
        if f == 0:
            cur = row
        elif f == 1:  # Sub: per-lane cumulative sum mod 256
            cur = (np.cumsum(row.reshape(-1, bpp), axis=0) % 256).reshape(-1)
        elif f == 2:  # Up
            cur = (row + prev) % 256
        elif f == 3:  # Average
            cur = np.empty(stride, np.int64)
            cur[:bpp] = (row[:bpp] + prev[:bpp] // 2) % 256
            for x in range(bpp, stride, bpp):
                cur[x : x + bpp] = (
                    row[x : x + bpp] + (cur[x - bpp : x] + prev[x : x + bpp]) // 2
                ) % 256
        elif f == 4:  # Paeth
            cur = np.empty(stride, np.int64)
            a = np.zeros(bpp, np.int64)
            c = np.zeros(bpp, np.int64)
            for x in range(0, stride, bpp):
                b = prev[x : x + bpp]
                p = a + b - c
                pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
                cur[x : x + bpp] = (row[x : x + bpp] + pred) % 256
                a = cur[x : x + bpp]
                c = b
        else:
            raise ValueError(f"PNG: unknown filter type {f}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out


def _decode_png(payload: bytes, *_) -> np.ndarray:
    """8-bit PNG -> (1, h, w, channels) uint8.  Palette images expand to
    RGB (or RGBA when a tRNS chunk is present)."""
    import struct
    import zlib

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, plte, trns, idat = 8, None, None, None, []
    while pos + 8 <= len(payload):
        size, ctype = struct.unpack_from(">I4s", payload, pos)
        body = payload[pos + 8 : pos + 8 + size]
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS":
            trns = np.frombuffer(body, np.uint8)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + size  # len + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0:
        raise ValueError(f"only 8-bit non-interlaced PNG supported (depth={depth})")
    if interlace != 0:
        raise ValueError("Adam7 interlaced PNG not supported")
    ch = _PNG_CHANNELS.get(color)
    if ch is None:
        raise ValueError(f"PNG: unknown color type {color}")
    raw = zlib.decompress(b"".join(idat))
    img = _png_unfilter(raw, h, w * ch, ch).reshape(h, w, ch)
    if color == 3:
        if plte is None:
            raise ValueError("PNG: palette image missing PLTE")
        rgb = plte[img[..., 0]]
        if trns is not None:
            alpha = np.full(256, 255, np.uint8)
            alpha[: len(trns)] = trns
            img = np.concatenate([rgb, alpha[img[..., 0]][..., None]], axis=-1)
        else:
            img = rgb
    return np.ascontiguousarray(img)[None]


def encode_png(img: np.ndarray, filters: str = "cycle") -> bytes:
    """(h, w) or (h, w, c) uint8 (c in 1..4) -> PNG bytes.

    ``filters='cycle'`` applies filter type y % 5 on row y so a single
    payload exercises every unfilter path; ``'none'`` emits filter 0.
    """
    import struct
    import zlib

    if img.ndim == 2:
        img = img[..., None]
    h, w, c = img.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    bpp = c
    px = img.reshape(h, w * c).astype(np.int64)
    lines = []
    prev = np.zeros(w * c, np.int64)
    for y in range(h):
        row = px[y]
        f = (y % 5) if filters == "cycle" else 0
        left = np.zeros_like(row)
        left[bpp:] = row[:-bpp]
        upleft = np.zeros_like(prev)
        upleft[bpp:] = prev[:-bpp]
        if f == 0:
            enc = row
        elif f == 1:
            enc = row - left
        elif f == 2:
            enc = row - prev
        elif f == 3:
            enc = row - (left + prev) // 2
        else:
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            enc = row - pred
        lines.append(bytes([f]) + (enc % 256).astype(np.uint8).tobytes())
        prev = row

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(lines), 6))
        + chunk(b"IEND", b"")
    )


def _decode_jpeg(payload: bytes, *_) -> np.ndarray:
    from ssb_sgis_spark.kernels.jpeg import decode_jpeg

    return decode_jpeg(payload)


# ------------------------------------------------ MJPEG-in-AVI (video)
# AVI is a RIFF container (same chunk grammar as WAV); MJPEG stores one
# baseline JPEG per frame, which kernels/jpeg.py decodes natively — so
# VIDEO decode is real, in pure stdlib+numpy.  Only inter-frame codecs
# (mp4/h264) stay stubbed: motion compensation is out of scope here.

def _riff_chunks(buf: bytes, pos: int, end: int):
    import struct

    while pos + 8 <= end:
        cid, size = struct.unpack_from("<4sI", buf, pos)
        yield cid, pos + 8, size
        pos += 8 + size + (size & 1)  # chunks are word-aligned


def _decode_avi(payload: bytes, *_) -> np.ndarray:
    """MJPEG AVI -> (n_frames, h, w, 3) uint8 RGB.  Frames must share
    dimensions (enforced); '00db'/'00dc' stream-0 video chunks only.
    Malformed containers raise ValueError (catchable per row)."""
    import struct

    from ssb_sgis_spark.kernels.jpeg import decode_jpeg

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    try:
        return _decode_avi_impl(payload, decode_jpeg)
    except (struct.error, IndexError, KeyError) as e:
        raise ValueError(f"AVI: malformed container ({type(e).__name__})") from e


def _decode_avi_impl(payload: bytes, decode_jpeg) -> np.ndarray:
    frames = []
    for cid, body_pos, size in _riff_chunks(payload, 12, len(payload)):
        if cid == b"LIST":
            ltype = payload[body_pos : body_pos + 4]
            if ltype == b"movi":
                for fcid, fpos, fsize in _riff_chunks(
                    payload, body_pos + 4, body_pos + size
                ):
                    if fcid in (b"00dc", b"00db"):
                        frames.append(
                            decode_jpeg(payload[fpos : fpos + fsize])[0]
                        )
    if not frames:
        raise ValueError("AVI: no MJPEG video frames found")
    if len({f.shape for f in frames}) != 1:
        raise ValueError("AVI: frames differ in dimensions")
    out = np.stack(frames)
    if out.shape[-1] == 1:  # grayscale MJPEG: present as 1-channel video
        return out
    return out


def encode_avi_mjpeg(frames: np.ndarray, fps: int = 25, **jpeg_kw) -> bytes:
    """(n, h, w) or (n, h, w, 3) uint8 -> MJPEG AVI bytes (one baseline
    JPEG per frame; ``jpeg_kw`` forwards to ``encode_jpeg`` — e.g.
    ``unit_quant=True`` for the block-constant-exact mode)."""
    import struct

    from ssb_sgis_spark.kernels.jpeg import encode_jpeg

    n = frames.shape[0]
    h, w = frames.shape[1], frames.shape[2]

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // fps, 0, 0, 0x10, n, 0, 1, 0, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIIi4H", 0, 0, 0, 0, 1, fps, 0, n, 0, 0xFFFF, -1, 0, 0, 0, 0)
    )
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0)
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_body = b"".join(
        chunk(b"00dc", encode_jpeg(frames[i], **jpeg_kw)) for i in range(n)
    )
    riff_body = b"AVI " + hdrl + lst(b"movi", movi_body)
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def _decode_mp4(payload: bytes, *_) -> np.ndarray:
    """Motion-JPEG mp4 -> (n_frames, h, w, C) uint8 via the ISO-BMFF
    sample-table resolver (kernels/mp4.py) + per-sample T.81 decode."""
    from ssb_sgis_spark.kernels.mp4 import decode_mp4

    return decode_mp4(payload)


DECODERS = {
    "raw": _decode_raw,
    "bmp": _decode_bmp,   # real: 24-bit uncompressed
    "wav": _decode_wav,   # real: PCM 8/16-bit
    "png": _decode_png,   # real: DEFLATE via stdlib zlib + numpy unfilter
    "jpeg": _decode_jpeg,  # real: baseline T.81 (Huffman+DCT) in kernels/jpeg.py
    "avi": _decode_avi,   # real: MJPEG video (RIFF container, JPEG frames)
    "mp4": _decode_mp4,   # real: ISO-BMFF container + Motion-JPEG samples
    # (inter-frame codecs INSIDE an mp4 — avc1/hev1 — raise ValueError
    # naming the fourcc; the container still parses for metadata)
}


def decode_batch(pdf: pd.DataFrame) -> list[np.ndarray]:
    out = []
    for _, r in pdf.iterrows():
        dec = DECODERS.get(r["fmt"])
        if dec is None:
            _decode_stub(r["fmt"])
        out.append(
            dec(bytes(r["payload"]), r["width"], r["height"], r["channels"], r["n_frames"])
        )
    return out


def synth_media_df(spark: SparkSession, n: int = 64, seed: int = 11) -> DataFrame:
    """Deterministic fake media table (fmt='raw'): LCG bytes per id."""
    rows = []
    for i in range(n):
        w, h, c = 16 + (i % 3) * 8, 16 + (i % 2) * 8, 3
        frames = 1 if i % 4 else 4
        rng = np.random.RandomState(seed + i)
        payload = rng.randint(0, 256, size=frames * h * w * c, dtype=np.int64).astype(
            np.uint8
        )
        rows.append(
            (
                i,
                "video" if frames > 1 else "image",
                "raw",
                w,
                h,
                c,
                frames,
                bytearray(payload.tobytes()),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def media_features(df: DataFrame) -> DataFrame:
    """Per-media channel statistics (the 'feature extraction' stage):
    (media_id, mean_x1000 per channel, std_x1000 overall) — integers for
    stable comparison."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("mean_r_x1000", T.LongType()),
            T.StructField("mean_g_x1000", T.LongType()),
            T.StructField("mean_b_x1000", T.LongType()),
            T.StructField("std_x1000", T.LongType()),
        ]
    )

    def kernel(it):
        for pdf in it:
            arrs = decode_batch(pdf)
            rows = {k.name: [] for k in schema.fields}
            for mid, a in zip(pdf["media_id"], arrs):
                rows["media_id"].append(int(mid))
                m = a.reshape(-1, a.shape[-1]).mean(axis=0)
                # mono/stereo audio has < 3 channels: repeat the last one
                rows["mean_r_x1000"].append(int(m[0] * 1000))
                rows["mean_g_x1000"].append(int(m[min(1, len(m) - 1)] * 1000))
                rows["mean_b_x1000"].append(int(m[min(2, len(m) - 1)] * 1000))
                rows["std_x1000"].append(int(a.std() * 1000))
            yield pd.DataFrame(rows)

    return df.mapInPandas(kernel, schema=schema)


def resize_block_mean(df: DataFrame, factor: int = 2) -> DataFrame:
    """Block-mean downsample each frame by ``factor`` — real resize math
    on the decoded array; output payload is again fmt='raw'."""
    schema = df.schema

    def kernel(it):
        for pdf in it:
            arrs = decode_batch(pdf)
            out = pdf.copy()
            payloads, ws, hs = [], [], []
            for a in arrs:
                f, h, w, c = a.shape
                h2, w2 = (h // factor) * factor, (w // factor) * factor
                a = a[:, :h2, :w2, :]
                small = (
                    a.reshape(f, h2 // factor, factor, w2 // factor, factor, c)
                    .mean(axis=(2, 4))
                    .astype(np.uint8)
                )
                payloads.append(small.tobytes())
                hs.append(small.shape[1])
                ws.append(small.shape[2])
            out["payload"] = payloads
            out["width"] = ws
            out["height"] = hs
            yield out

    return df.mapInPandas(kernel, schema=schema)


def sample_frames(df: DataFrame, every_n: int = 2) -> DataFrame:
    """Keep every ``every_n``-th frame of video payloads (frame-sampling
    stage; images pass through)."""
    schema = df.schema

    def kernel(it):
        for pdf in it:
            arrs = decode_batch(pdf)
            out = pdf.copy()
            payloads, nf = [], []
            for a in arrs:
                s = a[::every_n]
                payloads.append(s.tobytes())
                nf.append(s.shape[0])
            out["payload"] = payloads
            out["n_frames"] = nf
            yield out

    return df.mapInPandas(kernel, schema=schema)


# --------------------------------------------------- oracle-ready BMP stats
# Closed-form pixel law for the oracle-checked media query: pixel i of
# image `mid` is (mid * 2654435761 + i * 40503) % 256 — pure integer
# arithmetic both numpy and SQL evaluate identically.
BMP_W, BMP_H, BMP_C = 24, 16, 3  # w*3 % 4 == 0: no BMP row padding
BMP_NPIX = BMP_W * BMP_H * BMP_C
PIX_A, PIX_B = 2654435761, 40503


def synth_bmp_from_ids(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id) -> (id, payload): REAL 24-bit BMP bytes whose pixels follow
    the closed-form law — the downstream decode stage consumes a genuine
    binary media column, not a numpy shortcut."""
    schema = T.StructType(
        [df.schema[id_col], T.StructField("payload", T.BinaryType())]
    )

    def kernel(it):
        idx = np.arange(BMP_NPIX, dtype=np.int64)
        for pdf in it:
            ids = pdf[id_col].to_numpy()
            payloads = []
            for mid in ids:
                v = ((int(mid) * PIX_A + idx * PIX_B) % 256).astype(np.uint8)
                payloads.append(encode_bmp(v.reshape(BMP_H, BMP_W, BMP_C)))
            yield pd.DataFrame({id_col: ids, "payload": payloads})

    return df.select(id_col).mapInPandas(kernel, schema=schema)


def bmp_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode real BMP payloads and emit channel means + std, all from
    INTEGER moments so the floating-point steps (one division, one
    multiply, one subtract, one sqrt — each correctly rounded) are
    bit-identical to the SQL oracle's.  numpy's .mean()/.std() pairwise
    summation is deliberately NOT used: its float summation order has no
    SQL equivalent."""
    import math

    schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("mean_r_x1000", T.LongType()),
            T.StructField("mean_g_x1000", T.LongType()),
            T.StructField("mean_b_x1000", T.LongType()),
            T.StructField("std_x1000", T.LongType()),
        ]
    )
    n = BMP_NPIX
    nc = n // 3

    def kernel(it):
        for pdf in it:
            rows = {k.name: [] for k in schema.fields}
            for mid, payload in zip(pdf[id_col], pdf["payload"]):
                a = _decode_bmp(bytes(payload))[0].reshape(-1, 3).astype(np.int64)
                rows[id_col].append(mid)
                for ch, key in enumerate(("mean_r_x1000", "mean_g_x1000", "mean_b_x1000")):
                    rows[key].append(int(int(a[:, ch].sum()) / nc * 1000))
                sx = int(a.sum())
                sx2 = int((a * a).sum())
                m = sx / n
                std = math.sqrt(sx2 / n - m * m)
                rows["std_x1000"].append(int(std * 1000))
            yield pd.DataFrame(rows)

    return df.mapInPandas(kernel, schema=schema)


def bmp_stats_oracle_sql(ids_rel: str, id_col: str = "doc_id") -> str:
    """DuckDB SQL computing the identical stats straight from the pixel
    law (no decode): the match PROVES decode∘encode is the identity on
    the whole payload, not just on test fixtures."""
    return _pixel_stats_oracle_sql(ids_rel, id_col, BMP_NPIX)


def _pixel_stats_oracle_sql(ids_rel: str, id_col: str, npix: int) -> str:
    return f"""
        WITH px AS (
          SELECT {id_col},
                 i % 3 AS ch,
                 ({id_col} * {PIX_A} + i * {PIX_B}) % 256 AS v
          FROM {ids_rel}, unnest(range({npix})) AS r(i)
        ),
        mom AS (
          SELECT {id_col},
                 sum(CASE WHEN ch = 0 THEN v END) AS sr,
                 sum(CASE WHEN ch = 1 THEN v END) AS sg,
                 sum(CASE WHEN ch = 2 THEN v END) AS sb,
                 sum(v) AS sx, sum(v * v) AS sx2
          FROM px GROUP BY {id_col}
        )
        SELECT {id_col},
               CAST(trunc(CAST(sr AS DOUBLE) / {npix // 3} * 1000) AS BIGINT) AS mean_r_x1000,
               CAST(trunc(CAST(sg AS DOUBLE) / {npix // 3} * 1000) AS BIGINT) AS mean_g_x1000,
               CAST(trunc(CAST(sb AS DOUBLE) / {npix // 3} * 1000) AS BIGINT) AS mean_b_x1000,
               CAST(trunc(sqrt(CAST(sx2 AS DOUBLE) / {npix}
                    - (CAST(sx AS DOUBLE) / {npix}) * (CAST(sx AS DOUBLE) / {npix})) * 1000) AS BIGINT) AS std_x1000
        FROM mom
    """


# --------------------------------------------------- oracle-ready PNG stats
# Same closed-form pixel law over a DIFFERENT geometry (odd width so the
# Sub/Average/Paeth lanes are misaligned with the BMP case) and the
# filter-cycling encoder, so the oracle-checked query walks every one of
# the five PNG unfilter paths through real DEFLATE bytes.
PNG_W, PNG_H, PNG_C = 19, 13, 3
PNG_NPIX = PNG_W * PNG_H * PNG_C


def synth_png_from_ids(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id) -> (id, payload): REAL zlib-compressed PNG bytes (filter
    types cycling 0..4 by row) whose pixels follow the closed-form law."""
    schema = T.StructType(
        [df.schema[id_col], T.StructField("payload", T.BinaryType())]
    )

    def kernel(it):
        idx = np.arange(PNG_NPIX, dtype=np.int64)
        for pdf in it:
            ids = pdf[id_col].to_numpy()
            payloads = []
            for mid in ids:
                v = ((int(mid) * PIX_A + idx * PIX_B) % 256).astype(np.uint8)
                payloads.append(
                    encode_png(v.reshape(PNG_H, PNG_W, PNG_C), filters="cycle")
                )
            yield pd.DataFrame({id_col: ids, "payload": payloads})

    return df.select(id_col).mapInPandas(kernel, schema=schema)


def png_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode real PNG payloads and emit the same integer-moment stats as
    ``bmp_stats`` (shared float discipline: one division, one multiply,
    one subtract, one sqrt — each correctly rounded)."""
    import math

    schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("mean_r_x1000", T.LongType()),
            T.StructField("mean_g_x1000", T.LongType()),
            T.StructField("mean_b_x1000", T.LongType()),
            T.StructField("std_x1000", T.LongType()),
        ]
    )
    n = PNG_NPIX
    nc = n // 3

    def kernel(it):
        for pdf in it:
            rows = {k.name: [] for k in schema.fields}
            for mid, payload in zip(pdf[id_col], pdf["payload"]):
                a = _decode_png(bytes(payload))[0].reshape(-1, 3).astype(np.int64)
                rows[id_col].append(mid)
                for ch, key in enumerate(("mean_r_x1000", "mean_g_x1000", "mean_b_x1000")):
                    rows[key].append(int(int(a[:, ch].sum()) / nc * 1000))
                sx = int(a.sum())
                sx2 = int((a * a).sum())
                m = sx / n
                std = math.sqrt(sx2 / n - m * m)
                rows["std_x1000"].append(int(std * 1000))
            yield pd.DataFrame(rows)

    return df.mapInPandas(kernel, schema=schema)


def png_stats_oracle_sql(ids_rel: str, id_col: str = "doc_id") -> str:
    """Same pixel-law oracle as BMP's: a hash match proves the zlib
    round-trip AND all five unfilter paths reconstruct every byte."""
    return _pixel_stats_oracle_sql(ids_rel, id_col, PNG_NPIX)


# -------------------------------------------------- oracle-ready JPEG stats
# Baseline JPEG is lossy, so the oracle exploits the one exactness window
# the math gives us: with UNIT quantization tables, an image constant
# within each 8x8 block round-trips bit-exactly (the DCT of a constant
# block is DC-only and integer: DC = 8*(v-128); AC quantizes to zero).
# The Spark side still runs the ENTIRE real codec — marker parse, Huffman
# decode with the Annex K tables, restart-marker resync (DRI=4), zigzag,
# dequantize, IDCT — so a hash match proves every entropy-coded bit
# decodes correctly.  Lossy-mode quality is covered by PSNR tests in
# tests/test_jpeg.py.
JPEG_BX, JPEG_BY = 5, 3          # 5x3 blocks of 8x8 -> 40x24 grayscale
JPEG_NBLK = JPEG_BX * JPEG_BY
JPEG_NPIX = JPEG_NBLK * 64
JPEG_DRI = 4                     # restart every 4 MCUs -> 4 entropy intervals


def synth_jpeg_from_ids(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id) -> (id, payload): REAL baseline-JPEG bytes (unit quant tables,
    DRI restart markers) of a block-constant grayscale image whose block
    values follow the closed-form law v_j = (id*PIX_A + j*PIX_B) % 256."""
    from ssb_sgis_spark.kernels.jpeg import encode_jpeg

    schema = T.StructType(
        [df.schema[id_col], T.StructField("payload", T.BinaryType())]
    )

    def kernel(it):
        j = np.arange(JPEG_NBLK, dtype=np.int64)
        for pdf in it:
            ids = pdf[id_col].to_numpy()
            payloads = []
            for mid in ids:
                v = ((int(mid) * PIX_A + j * PIX_B) % 256).astype(np.uint8)
                img = np.repeat(
                    np.repeat(v.reshape(JPEG_BY, JPEG_BX), 8, axis=0), 8, axis=1
                )
                payloads.append(
                    encode_jpeg(img, unit_quant=True, restart_interval=JPEG_DRI)
                )
            yield pd.DataFrame({id_col: ids, "payload": payloads})

    return df.select(id_col).mapInPandas(kernel, schema=schema)


def jpeg_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode real baseline-JPEG payloads through the full T.81 path and
    emit integer moments (same float discipline as bmp/png stats)."""
    import math

    from ssb_sgis_spark.kernels.jpeg import decode_jpeg

    schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("mean_x1000", T.LongType()),
            T.StructField("std_x1000", T.LongType()),
        ]
    )
    n = JPEG_NPIX

    def kernel(it):
        for pdf in it:
            rows = {k.name: [] for k in schema.fields}
            for mid, payload in zip(pdf[id_col], pdf["payload"]):
                a = decode_jpeg(bytes(payload))[0, :, :, 0].astype(np.int64)
                sx = int(a.sum())
                sx2 = int((a * a).sum())
                m = sx / n
                rows[id_col].append(mid)
                rows["mean_x1000"].append(int(m * 1000))
                rows["std_x1000"].append(int(math.sqrt(sx2 / n - m * m) * 1000))
            yield pd.DataFrame(rows)

    return df.mapInPandas(kernel, schema=schema)


def jpeg_stats_oracle_sql(ids_rel: str, id_col: str = "doc_id") -> str:
    """Moments from the closed-form BLOCK law (each block contributes 64
    identical pixels) — a hash match proves the Huffman/DCT round-trip."""
    return f"""
        WITH blk AS (
          SELECT {id_col},
                 ({id_col} * {PIX_A} + j * {PIX_B}) % 256 AS v
          FROM {ids_rel}, unnest(range({JPEG_NBLK})) AS r(j)
        ),
        mom AS (
          SELECT {id_col},
                 64 * sum(v) AS sx,
                 64 * sum(v * v) AS sx2
          FROM blk GROUP BY {id_col}
        )
        SELECT {id_col},
               CAST(trunc(CAST(sx AS DOUBLE) / {JPEG_NPIX} * 1000) AS BIGINT) AS mean_x1000,
               CAST(trunc(sqrt(CAST(sx2 AS DOUBLE) / {JPEG_NPIX}
                    - (CAST(sx AS DOUBLE) / {JPEG_NPIX}) * (CAST(sx AS DOUBLE) / {JPEG_NPIX})) * 1000) AS BIGINT) AS std_x1000
        FROM mom
    """


# ------------------------------------------------- oracle-ready AVI stats
# Same exactness window as jpeg_stats (unit quant + block-constant
# frames), one level up: the payload is a full MJPEG AVI — RIFF walk,
# per-frame T.81 decode, frame stacking — so a hash match proves the
# whole VIDEO path.  Block (f, j) of a doc's 4-frame clip follows the
# global law v = (id*PIX_A + (f*NBLK + j)*PIX_B) % 256.
AVI_FRAMES = 4
AVI_NVALS = AVI_FRAMES * JPEG_NBLK          # law domain: frame-major blocks
AVI_NPIX = AVI_FRAMES * JPEG_NPIX


def synth_avi_from_ids(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id) -> (id, payload): REAL MJPEG-AVI bytes, 4 grayscale
    block-constant frames per clip (unit quant tables)."""
    schema = T.StructType(
        [df.schema[id_col], T.StructField("payload", T.BinaryType())]
    )

    def kernel(it):
        g = np.arange(AVI_NVALS, dtype=np.int64)
        for pdf in it:
            ids = pdf[id_col].to_numpy()
            payloads = []
            for mid in ids:
                v = ((int(mid) * PIX_A + g * PIX_B) % 256).astype(np.uint8)
                frames = np.repeat(
                    np.repeat(
                        v.reshape(AVI_FRAMES, JPEG_BY, JPEG_BX), 8, axis=1
                    ),
                    8,
                    axis=2,
                )
                payloads.append(encode_avi_mjpeg(frames, unit_quant=True))
            yield pd.DataFrame({id_col: ids, "payload": payloads})

    return df.select(id_col).mapInPandas(kernel, schema=schema)


def video_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode MJPEG AVI clips through the full RIFF+T.81 path; emit
    per-clip integer moments plus the decoded frame count."""
    import math

    schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("n_frames", T.LongType()),
            T.StructField("mean_x1000", T.LongType()),
            T.StructField("std_x1000", T.LongType()),
        ]
    )
    n = AVI_NPIX

    def kernel(it):
        for pdf in it:
            rows = {k.name: [] for k in schema.fields}
            for mid, payload in zip(pdf[id_col], pdf["payload"]):
                a = _decode_avi(bytes(payload))[..., 0].astype(np.int64)
                sx = int(a.sum())
                sx2 = int((a * a).sum())
                m = sx / n
                rows[id_col].append(mid)
                rows["n_frames"].append(int(a.shape[0]))
                rows["mean_x1000"].append(int(m * 1000))
                rows["std_x1000"].append(int(math.sqrt(sx2 / n - m * m) * 1000))
            yield pd.DataFrame(rows)

    return df.mapInPandas(kernel, schema=schema)


def video_stats_oracle_sql(ids_rel: str, id_col: str = "doc_id") -> str:
    return f"""
        WITH blk AS (
          SELECT {id_col},
                 ({id_col} * {PIX_A} + g * {PIX_B}) % 256 AS v
          FROM {ids_rel}, unnest(range({AVI_NVALS})) AS r(g)
        ),
        mom AS (
          SELECT {id_col},
                 64 * sum(v) AS sx,
                 64 * sum(v * v) AS sx2
          FROM blk GROUP BY {id_col}
        )
        SELECT {id_col},
               CAST({AVI_FRAMES} AS BIGINT) AS n_frames,
               CAST(trunc(CAST(sx AS DOUBLE) / {AVI_NPIX} * 1000) AS BIGINT) AS mean_x1000,
               CAST(trunc(sqrt(CAST(sx2 AS DOUBLE) / {AVI_NPIX}
                    - (CAST(sx AS DOUBLE) / {AVI_NPIX}) * (CAST(sx AS DOUBLE) / {AVI_NPIX})) * 1000) AS BIGINT) AS std_x1000
        FROM mom
    """


# -------------------------------------------------- oracle-ready WAV stats
# The audio modality's cross-engine proof (same family as the image
# codecs): one REAL PCM-16 WAV per document whose samples follow the
# closed-form law x_i = ((id*PIX_A + i*PIX_B) % 65536) - 32768, decoded
# by the engine's own RIFF/WAV parser; integer moments + zero-crossing
# counts are SQL-expressible, so a hash match proves every sample byte.
WAV_N = 4096          # samples per clip (mono, 16 kHz)


def synth_wav_from_ids(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id) -> (id, payload): REAL PCM-16 mono WAV bytes under the law."""
    schema = T.StructType(
        [df.schema[id_col], T.StructField("payload", T.BinaryType())]
    )

    def kernel(it):
        i = np.arange(WAV_N, dtype=np.int64)
        for pdf in it:
            ids = pdf[id_col].to_numpy()
            payloads = []
            for mid in ids:
                x = (((int(mid) * PIX_A + i * PIX_B) % 65536) - 32768).astype(
                    np.int16
                )
                payloads.append(encode_wav(x, rate=16000))
            yield pd.DataFrame({id_col: ids, "payload": payloads})

    return df.select(id_col).mapInPandas(kernel, schema=schema)


def audio_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode real WAV payloads and emit (n_samples, rms_x1000,
    zero_crossings) — the audio quality-filter signals, integer-exact."""
    import math

    schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("n_samples", T.LongType()),
            T.StructField("rms_x1000", T.LongType()),
            T.StructField("zero_crossings", T.LongType()),
        ]
    )

    def kernel(it):
        for pdf in it:
            rows = {k.name: [] for k in schema.fields}
            for mid, payload in zip(pdf[id_col], pdf["payload"]):
                a = _decode_wav(bytes(payload))[0, 0, :, 0].astype(np.int64)
                n = len(a)
                sx2 = int((a * a).sum())
                neg = a < 0
                zc = int((neg[1:] != neg[:-1]).sum())
                rows[id_col].append(mid)
                rows["n_samples"].append(n)
                rows["rms_x1000"].append(int(math.sqrt(sx2 / n) * 1000))
                rows["zero_crossings"].append(zc)
            yield pd.DataFrame(rows)

    return df.mapInPandas(kernel, schema=schema)


def audio_stats_oracle_sql(ids_rel: str, id_col: str = "doc_id") -> str:
    return f"""
        WITH smp AS (
          SELECT {id_col}, i,
                 ({id_col} * {PIX_A} + i * {PIX_B}) % 65536 - 32768 AS x
          FROM {ids_rel}, unnest(range({WAV_N})) AS r(i)
        ),
        lagged AS (
          SELECT {id_col}, x,
                 lag(x) OVER (PARTITION BY {id_col} ORDER BY i) AS px
          FROM smp
        )
        SELECT {id_col},
               CAST({WAV_N} AS BIGINT) AS n_samples,
               CAST(trunc(sqrt(sum(x * x) / CAST({WAV_N} AS DOUBLE)) * 1000) AS BIGINT)
                   AS rms_x1000,
               CAST(sum(CASE WHEN px IS NOT NULL AND ((x < 0) != (px < 0))
                        THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        FROM lagged GROUP BY {id_col}
    """


def audio_spectral(df: DataFrame, id_col: str = "doc_id", n_fft: int = 512) -> DataFrame:
    """Spectral features over WAV payloads (mapInPandas, numpy rFFT):
    dominant frequency bin of the first frame and integer spectral
    centroid (x1000).  No SQL oracle — the DFT is not SQL-expressible;
    covered by closed-form pytest (pure tones, Parseval)."""
    schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("dominant_bin", T.LongType()),
            T.StructField("centroid_x1000", T.LongType()),
        ]
    )

    def kernel(it):
        for pdf in it:
            rows = {k.name: [] for k in schema.fields}
            for mid, payload in zip(pdf[id_col], pdf["payload"]):
                a = _decode_wav(bytes(payload))[0, 0, :, 0].astype(np.float64)
                frame = a[:n_fft]
                mag = np.abs(np.fft.rfft(frame))
                mag[0] = 0.0  # ignore DC for the dominant bin
                k = int(np.argmax(mag))
                tot = float(mag.sum())
                cen = float((np.arange(len(mag)) * mag).sum() / tot) if tot else 0.0
                rows[id_col].append(mid)
                rows["dominant_bin"].append(k)
                rows["centroid_x1000"].append(int(cen * 1000))
            yield pd.DataFrame(rows)

    return df.mapInPandas(kernel, schema=schema)


# ------------------------------------------------- oracle-ready MP4 stats
# The full ISO-BMFF path one level above AVI: ftyp/moov box walk, the
# stsd/stts/stsc/stsz/stco sample-table resolver, per-sample T.81
# decode, frame stacking — under the SAME block law as the AVI clips,
# so a hash match proves the whole container+codec chain.  duration_ms
# comes from the mvhd/stts boxes (not the metadata columns), so the
# oracle also pins the timing tables.
MP4_FPS = 25                               # -> 40 ms/sample in the writer
MP4_DURATION_MS = AVI_FRAMES * 1000 // MP4_FPS


def synth_mp4_from_ids(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id) -> (id, payload): REAL Motion-JPEG mp4 bytes, 4 grayscale
    block-constant frames per clip (unit quant tables)."""
    from ssb_sgis_spark.kernels.mp4 import encode_mp4_mjpeg

    schema = T.StructType(
        [df.schema[id_col], T.StructField("payload", T.BinaryType())]
    )

    def kernel(it):
        g = np.arange(AVI_NVALS, dtype=np.int64)
        for pdf in it:
            ids = pdf[id_col].to_numpy()
            payloads = []
            for mid in ids:
                v = ((int(mid) * PIX_A + g * PIX_B) % 256).astype(np.uint8)
                frames = np.repeat(
                    np.repeat(
                        v.reshape(AVI_FRAMES, JPEG_BY, JPEG_BX), 8, axis=1
                    ),
                    8,
                    axis=2,
                )
                payloads.append(encode_mp4_mjpeg(frames, fps=MP4_FPS, unit_quant=True))
            yield pd.DataFrame({id_col: ids, "payload": payloads})

    return df.select(id_col).mapInPandas(kernel, schema=schema)


def mp4_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode Motion-JPEG mp4 clips through the full ISO-BMFF + T.81
    path; emit per-clip integer moments plus the decoded frame count
    and the container-derived duration."""
    import math

    from ssb_sgis_spark.kernels.mp4 import decode_mp4, mp4_metadata_row

    schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("n_frames", T.LongType()),
            T.StructField("duration_ms", T.LongType()),
            T.StructField("mean_x1000", T.LongType()),
            T.StructField("std_x1000", T.LongType()),
        ]
    )
    n = AVI_NPIX

    def kernel(it):
        for pdf in it:
            rows = {k.name: [] for k in schema.fields}
            for mid, payload in zip(pdf[id_col], pdf["payload"]):
                buf = bytes(payload)
                a = decode_mp4(buf)[..., 0].astype(np.int64)
                meta = mp4_metadata_row(buf)
                sx = int(a.sum())
                sx2 = int((a * a).sum())
                m = sx / n
                rows[id_col].append(mid)
                rows["n_frames"].append(int(a.shape[0]))
                rows["duration_ms"].append(int(meta["duration_ms"]))
                rows["mean_x1000"].append(int(m * 1000))
                rows["std_x1000"].append(int(math.sqrt(sx2 / n - m * m) * 1000))
            yield pd.DataFrame(rows)

    return df.mapInPandas(kernel, schema=schema)


def mp4_stats_oracle_sql(ids_rel: str, id_col: str = "doc_id") -> str:
    return f"""
        WITH blk AS (
          SELECT {id_col},
                 ({id_col} * {PIX_A} + g * {PIX_B}) % 256 AS v
          FROM {ids_rel}, unnest(range({AVI_NVALS})) AS r(g)
        ),
        mom AS (
          SELECT {id_col},
                 64 * sum(v) AS sx,
                 64 * sum(v * v) AS sx2
          FROM blk GROUP BY {id_col}
        )
        SELECT {id_col},
               CAST({AVI_FRAMES} AS BIGINT) AS n_frames,
               CAST({MP4_DURATION_MS} AS BIGINT) AS duration_ms,
               CAST(trunc(CAST(sx AS DOUBLE) / {AVI_NPIX} * 1000) AS BIGINT) AS mean_x1000,
               CAST(trunc(sqrt(CAST(sx2 AS DOUBLE) / {AVI_NPIX}
                    - (CAST(sx AS DOUBLE) / {AVI_NPIX}) * (CAST(sx AS DOUBLE) / {AVI_NPIX})) * 1000) AS BIGINT) AS std_x1000
        FROM mom
    """
