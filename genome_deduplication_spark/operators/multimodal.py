"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as `binary` columns with a metadata struct; the
Spark-side plumbing (schemas, batching, partition sizing) is real and
tested. The decode step has two tiers:

* **Real stdlib-only decoders** — raster images: binary PPM (P6), 24-bit
  uncompressed BMP, non-interlaced 8-bit truecolor(+alpha) PNG (``zlib``
  inflate + per-row unfilter), and baseline sequential JPEG (marker walk +
  Huffman + IDCT, 4:4:4/4:2:0/grayscale — see jpeg.py) and GIF87a/89a
  (LZW + palette + interlace, first frame — see gif.py); audio: RIFF/WAVE
  PCM (8/16/24/32 bit int + 32/64-bit IEEE float, any channel count,
  downmixed to mono); video: MJPEG-in-AVI (RIFF walk + per-frame JPEG,
  evenly sampled frames — see video.py) —
  parsed with pure python + numpy (no codec libraries needed), producing
  real pixels / samples and a real content-derived feature (image:
  histogram + pooled-grid; audio: spectral bands + RMS envelope + summary
  stats), all encoding-independent (the same content in two encodings
  yields the same feature).
* **Unsupported formats** (progressive JPEG, TIFF/WebP, MP3, MP4/H.26x
  — their codec libraries are not in this container): a byte-derived fallback
  feature (default, keeps the dedup-by-feature path runnable end-to-end:
  identical payloads still produce identical features) or a
  ``NotImplementedError`` under ``on_unsupported="raise"`` — the package's
  only stub, now reachable only for genuinely unsupported codecs.
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from genome_deduplication_spark.operators.gif import decode_gif
from genome_deduplication_spark.operators.jpeg import decode_jpeg
from genome_deduplication_spark.operators.video import (
    decode_video_frames,
    detect_video_format,
    video_feature,
)

# formats the stdlib-only decoder handles for real
SUPPORTED_IMAGE_FORMATS = ("ppm", "bmp", "png", "jpeg", "gif")
SUPPORTED_AUDIO_FORMATS = ("wav",)
SUPPORTED_VIDEO_FORMATS = ("avi",)  # MJPEG frames via the jpeg.py codec

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# decode-side guard for untrusted web payloads: reject header-declared
# images beyond this many pixels before inflating anything (64 Mpx ~
# 256 MB decoded RGBA — far above any training-data thumbnail)
_MAX_PNG_PIXELS = 1 << 26

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                    T.StructField("mime", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

_FEAT_DIM = 32


def _fake_feature(payload: bytes) -> np.ndarray:
    """Deterministic fallback for payloads in formats the stdlib decoder
    cannot handle: bucket byte histogram folded to _FEAT_DIM floats.
    Identical payloads -> identical features (all the dedup path needs)."""
    if not payload:
        return np.zeros(_FEAT_DIM, dtype=np.float32)
    arr = np.frombuffer(payload, dtype=np.uint8)
    hist = np.bincount(arr % _FEAT_DIM, minlength=_FEAT_DIM).astype(np.float32)
    n = np.linalg.norm(hist)
    return hist / n if n > 0 else hist


def detect_image_format(payload: bytes) -> str | None:
    """Magic-byte sniff: 'ppm' (binary P6), 'bmp', 'png', 'jpeg', 'gif',
    else None.

    The BMP sniff goes beyond the 2-byte 'BM' prefix (which random binary
    payloads can start with): the 54-byte header must be present, the
    declared file size and pixel-data offset must be plausible, and the
    DIB header size must be one of the real variants — so a truncated or
    false-positive 'BM'-prefixed payload falls through to the fallback
    tier instead of blowing up the decode."""
    if payload[:2] == b"P6" and (len(payload) > 2 and payload[2:3] in b" \t\r\n#"):
        return "ppm"
    if payload[:2] == b"BM" and len(payload) >= 54:
        data_off = struct.unpack_from("<I", payload, 10)[0]
        dib_size = struct.unpack_from("<I", payload, 14)[0]
        if 54 <= data_off <= len(payload) and dib_size in (12, 40, 52, 56, 108, 124):
            return "bmp"
    if payload[:8] == _PNG_MAGIC:
        return "png"
    if payload[:3] == b"\xff\xd8\xff":  # SOI + first marker byte
        return "jpeg"
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    return None


def _decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6, maxval <= 255) -> (H, W, 3) uint8. Pure python header
    parse (whitespace/#-comment tokens per the netpbm spec) + numpy reshape."""
    pos = 2  # past 'P6'
    tokens: list[int] = []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if pos < len(payload) and payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PPM header")
        tokens.append(int(payload[start:pos]))
    width, height, maxval = tokens
    if maxval > 255:
        raise NotImplementedError("16-bit PPM (maxval > 255) not supported")
    pos += 1  # single whitespace after maxval
    n = width * height * 3
    data = payload[pos : pos + n]
    if len(data) != n:
        raise ValueError("truncated PPM pixel data")
    return np.frombuffer(data, dtype=np.uint8).reshape(height, width, 3)


def _decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BMP (BI_RGB, bottom-up or top-down) -> (H, W, 3)
    uint8 RGB. Pure struct-offset header parse."""
    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    width = struct.unpack_from("<i", payload, 18)[0]
    height = struct.unpack_from("<i", payload, 22)[0]
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only 24-bit uncompressed BMP supported (bpp={bpp}, "
            f"compression={compression})"
        )
    bottom_up = height > 0
    height = abs(height)
    stride = ((width * 3 + 3) // 4) * 4
    need = data_off + stride * height
    if len(payload) < need:
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(
        payload[data_off : data_off + stride * height], dtype=np.uint8
    ).reshape(height, stride)[:, : width * 3].reshape(height, width, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[:, :, ::-1]  # BGR -> RGB


def _unfilter_png_rows(
    raw: np.ndarray, filters: np.ndarray, ch: int
) -> np.ndarray:
    """Reverse PNG scanline filters (types 0-4, PNG spec §9) over
    ``raw`` (H, stride) uint8 filtered rows -> reconstructed uint8 rows.

    Rows are sequential (Up/Average/Paeth read the previous reconstructed
    row) but each row's work is numpy: None/Up are whole-row vector ops and
    Sub is a per-lane uint8 cumsum (the a-recurrence mod 256); only
    Average/Paeth — whose predictor mixes left and up non-linearly — scan
    bytes, and encoders overwhelmingly emit 0/1/2 for synthetic content."""
    height, stride = raw.shape
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        f = int(filters[y])
        cur = raw[y].copy()
        if f == 0:
            pass
        elif f == 1:  # Sub: recon[i] = cur[i] + recon[i-ch]  (per-lane cumsum)
            for lane in range(ch):
                cur[lane::ch] = np.cumsum(cur[lane::ch], dtype=np.uint8)
        elif f == 2:  # Up
            cur += prev  # uint8 wraparound == mod 256
        elif f == 3:  # Average
            ci = cur.astype(np.int64)
            pi = prev.astype(np.int64)
            rec = np.empty(stride, dtype=np.int64)
            for i in range(stride):
                left = rec[i - ch] if i >= ch else 0
                rec[i] = (ci[i] + ((left + pi[i]) >> 1)) & 0xFF
            cur = rec.astype(np.uint8)
        elif f == 4:  # Paeth
            ci = cur.astype(np.int64)
            pi = prev.astype(np.int64)
            rec = np.empty(stride, dtype=np.int64)
            for i in range(stride):
                a = rec[i - ch] if i >= ch else 0
                b = pi[i]
                c = pi[i - ch] if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[i] = (ci[i] + pred) & 0xFF
            cur = rec.astype(np.uint8)
        else:
            raise ValueError(f"invalid PNG filter type {f}")
        out[y] = cur
        prev = cur
    return out


def _decode_png(payload: bytes) -> np.ndarray:
    """Non-interlaced 8-bit truecolor (color type 2) / truecolor+alpha
    (type 6) PNG -> (H, W, 3) uint8 RGB, stdlib-only: chunk walk + IHDR
    parse + ``zlib.decompress`` of the IDAT stream + per-row unfilter
    (:func:`_unfilter_png_rows`). Alpha, when present, is dropped so the
    pixel feature is format-independent."""
    pos = 8  # past the signature
    ihdr: bytes | None = None
    idat: list[bytes] = []
    n = len(payload)
    while pos + 8 <= n:
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc32
    if ihdr is None or len(ihdr) < 13 or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    width, height, bit_depth, color_type, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr[:13]
    )
    if bit_depth != 8 or color_type not in (2, 6) or interlace != 0:
        raise NotImplementedError(
            "only non-interlaced 8-bit truecolor(+alpha) PNG supported "
            f"(bit_depth={bit_depth}, color_type={color_type}, "
            f"interlace={interlace})"
        )
    if comp != 0 or filt != 0:
        raise ValueError(f"invalid PNG IHDR (compression={comp}, filter={filt})")
    if width == 0 or height == 0 or width * height > _MAX_PNG_PIXELS:
        raise ValueError(
            f"implausible PNG dimensions {width}x{height} "
            f"(cap {_MAX_PNG_PIXELS} pixels)"
        )
    ch = 3 if color_type == 2 else 4
    stride = width * ch
    expected = height * (stride + 1)
    # Bound the inflate to the header-declared size: web payloads are
    # untrusted, and an unbounded zlib.decompress would let a few-KB
    # zip bomb allocate GBs inside an executor.
    dec = zlib.decompressobj()
    try:
        raw = dec.decompress(b"".join(idat), expected)
    except zlib.error as e:
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from e
    if (
        len(raw) != expected
        or dec.decompress(dec.unconsumed_tail, 1)
        or dec.flush(1)
    ):
        raise ValueError("PNG pixel data size mismatch")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    pixels = _unfilter_png_rows(rows[:, 1:], rows[:, 0], ch)
    pixels = pixels.reshape(height, width, ch)
    return pixels[:, :, :3]


def decode_image(payload: bytes) -> np.ndarray:
    """Decode a supported raster payload to (H, W, 3) uint8 RGB.

    Real decode for SUPPORTED_IMAGE_FORMATS (stdlib + numpy only — PNG via
    zlib inflate, baseline JPEG / GIF-LZW via the pure-numpy codecs in
    jpeg.py / gif.py); NotImplementedError for every other format —
    remaining codecs (progressive JPEG, TIFF, WebP, ...) need libraries
    absent in this container."""
    fmt = detect_image_format(payload)
    if fmt == "ppm":
        return _decode_ppm(payload)
    if fmt == "bmp":
        return _decode_bmp(payload)
    if fmt == "png":
        return _decode_png(payload)
    if fmt == "jpeg":
        return decode_jpeg(payload)
    if fmt == "gif":
        return decode_gif(payload)
    raise NotImplementedError(
        "unsupported image format (stdlib decoder handles "
        f"{SUPPORTED_IMAGE_FORMATS}; compressed codecs absent in container)"
    )


def image_feature(pixels: np.ndarray) -> np.ndarray:
    """Real pixel feature (_FEAT_DIM floats): 16-bin grayscale histogram
    (normalized) + 4x4 mean-pooled grayscale grid — format-independent, so
    the same image encoded as PPM and BMP produces the identical feature."""
    gray = pixels.astype(np.float32).mean(axis=2)
    hist = np.histogram(gray, bins=16, range=(0.0, 256.0))[0].astype(np.float32)
    hist /= max(float(hist.sum()), 1.0)
    h, w = gray.shape
    ys = np.linspace(0, h, 5).astype(int)
    xs = np.linspace(0, w, 5).astype(int)
    grid = np.array(
        [
            gray[ys[i] : max(ys[i + 1], ys[i] + 1),
                 xs[j] : max(xs[j + 1], xs[j] + 1)].mean() / 255.0
            for i in range(4)
            for j in range(4)
        ],
        dtype=np.float32,
    )
    return np.concatenate([hist, grid])


def detect_audio_format(payload: bytes) -> str | None:
    """Magic-byte sniff for audio: 'wav' (RIFF container with a WAVE form
    type), else None. The 12-byte check (RIFF + declared size + WAVE) makes
    random-binary false positives vanishingly unlikely."""
    if len(payload) >= 12 and payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    return None


# WAVE_FORMAT_EXTENSIBLE wraps the real format tag in a 16-byte subformat
# GUID whose first two bytes are the classic tag (PCM=1, IEEE float=3)
_WAVE_PCM, _WAVE_FLOAT, _WAVE_EXTENSIBLE = 1, 3, 0xFFFE


def decode_audio(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM -> (mono float32 samples in [-1, 1], sample_rate).

    Pure struct chunk walk (fmt then data, word-aligned per the RIFF spec)
    + numpy sample conversion: integer PCM at 8 (unsigned) / 16 / 32-bit
    (signed LE) / 24-bit (3-byte stitch), and IEEE float at 32/64-bit;
    WAVE_FORMAT_EXTENSIBLE unwrapped to its PCM/float subformat.
    Multi-channel audio is downmixed by per-frame mean, so the same signal
    encoded at different bit depths or channel layouts produces (nearly)
    identical samples — the property :func:`audio_feature` relies on.
    Raises NotImplementedError for compressed codecs (e.g. MP3/ADPCM
    inside RIFF) and ValueError for corrupt/truncated containers."""
    if detect_audio_format(payload) != "wav":
        raise NotImplementedError(
            "unsupported audio format (stdlib decoder handles "
            f"{SUPPORTED_AUDIO_FORMATS}; compressed codecs absent in container)"
        )
    pos, n = 12, len(payload)
    fmt: bytes | None = None
    data: bytes | None = None
    while pos + 8 <= n:
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError("truncated WAV chunk")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or len(fmt) < 16 or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    tag, channels, rate, _brate, _balign, bits = struct.unpack_from("<HHIIHH", fmt)
    if tag == _WAVE_EXTENSIBLE:
        if len(fmt) < 26:
            raise ValueError("truncated WAVE_FORMAT_EXTENSIBLE fmt chunk")
        (tag,) = struct.unpack_from("<H", fmt, 24)  # subformat GUID head
    if channels == 0 or rate == 0:
        raise ValueError(f"implausible WAV fmt (channels={channels}, rate={rate})")
    if tag == _WAVE_PCM and bits == 8:
        x = np.frombuffer(data, np.uint8).astype(np.float32)
        x = (x - 128.0) / 128.0
    elif tag == _WAVE_PCM and bits == 16:
        x = np.frombuffer(data[: len(data) & ~1], "<i2").astype(np.float32) / 32768.0
    elif tag == _WAVE_PCM and bits == 24:
        b = np.frombuffer(data[: len(data) - len(data) % 3], np.uint8)
        b = b.reshape(-1, 3).astype(np.int32)
        v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        v -= (v & 0x800000) << 1  # sign-extend 24 -> 32
        x = v.astype(np.float32) / 8388608.0
    elif tag == _WAVE_PCM and bits == 32:
        x = np.frombuffer(data[: len(data) & ~3], "<i4").astype(np.float32) / 2147483648.0
    elif tag == _WAVE_FLOAT and bits == 32:
        x = np.frombuffer(data[: len(data) & ~3], "<f4").astype(np.float32)
    elif tag == _WAVE_FLOAT and bits == 64:
        x = np.frombuffer(data[: len(data) & ~7], "<f8").astype(np.float32)
    else:
        raise NotImplementedError(
            f"unsupported WAV encoding (format_tag={tag}, bits={bits}); "
            "compressed codecs (MP3/ADPCM) absent in container"
        )
    if channels > 1:
        x = x[: len(x) - len(x) % channels].reshape(-1, channels).mean(axis=1)
    return x.astype(np.float32), int(rate)


def audio_feature(samples: np.ndarray, sample_rate: int) -> np.ndarray:
    """Real audio feature (_FEAT_DIM floats), encoding-independent: the
    same signal stored as 16-bit PCM and 32-bit float WAV produces the
    same feature to quantization tolerance.

    Layout: [0:16] 16 geometric frequency-band log energies (rfft
    magnitude, bands spanning DC..Nyquist, L2-normalized), [16:24] 8-bin
    temporal RMS envelope (normalized by peak bin), [24:32] summary stats
    (overall RMS, zero-crossing rate, peak |x|, mean, std, spectral
    centroid as a fraction of Nyquist, log1p duration sec, log10 rate)."""
    out = np.zeros(_FEAT_DIM, dtype=np.float32)
    n = len(samples)
    out[30] = np.log1p(np.float32(n / max(sample_rate, 1)))
    out[31] = np.float32(np.log10(max(sample_rate, 1)))
    if n == 0:
        return out
    mag = np.abs(np.fft.rfft(samples.astype(np.float64)))
    # 16 geometric band edges over [1, len(mag)) — log-spaced like hearing
    edges = np.unique(
        np.geomspace(1, len(mag), num=17).astype(np.int64)
    )
    bands = np.zeros(16, dtype=np.float64)
    for i in range(min(16, len(edges) - 1)):
        bands[i] = np.log1p(mag[edges[i] : max(edges[i + 1], edges[i] + 1)].sum())
    norm = np.linalg.norm(bands)
    out[0:16] = (bands / norm if norm > 0 else bands).astype(np.float32)
    idx = np.linspace(0, n, 9).astype(np.int64)
    env = np.array(
        [
            np.sqrt(np.mean(np.square(samples[idx[i] : max(idx[i + 1], idx[i] + 1)],
                                      dtype=np.float64)))
            for i in range(8)
        ]
    )
    peak_env = env.max()
    out[16:24] = (env / peak_env if peak_env > 0 else env).astype(np.float32)
    out[24] = np.sqrt(np.mean(np.square(samples, dtype=np.float64)))
    out[25] = np.float32(np.mean(np.signbit(samples[1:]) != np.signbit(samples[:-1])))
    out[26] = np.max(np.abs(samples))
    out[27] = np.mean(samples, dtype=np.float64)
    out[28] = np.std(samples, dtype=np.float64)
    tot = mag.sum()
    out[29] = np.float32(
        (mag * np.arange(len(mag))).sum() / (tot * max(len(mag) - 1, 1))
    ) if tot > 0 else np.float32(0.0)
    return out


def decode_and_featurize(
    media: DataFrame, batch_rows: int = 256, on_unsupported: str = "fallback"
) -> DataFrame:
    """media table -> (media_id, kind, feature array<float>, n_bytes,
    decoded boolean).

    Payloads in SUPPORTED_IMAGE_FORMATS get a real decode + pixel feature,
    SUPPORTED_AUDIO_FORMATS a real decode + spectral feature, and
    SUPPORTED_VIDEO_FORMATS a sampled-frame decode + temporal feature
    (decoded=true); others — including sniff false-positives whose
    decode fails (truncated headers, unsupported sub-variants like 32-bpp
    BMP or ADPCM-in-RIFF) — get the deterministic byte-derived fallback
    feature (decoded=false).
    Under ``on_unsupported="raise"`` every non-decodable payload raises
    instead (NotImplementedError for unsupported codecs/sub-variants,
    ValueError for corrupt data).

    mapInPandas so one Arrow batch holds `batch_rows` payloads — the batch
    shape is sized for large binaries (keep `batch_rows * payload_size`
    under executor Arrow memory; callers with big media should also set
    spark.sql.execution.arrow.maxRecordsPerBatch accordingly).
    """
    if on_unsupported not in ("fallback", "raise"):
        raise ValueError(f"on_unsupported={on_unsupported!r}")
    strict = on_unsupported == "raise"

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.StringType()),
            T.StructField("kind", T.StringType()),
            T.StructField("feature", T.ArrayType(T.FloatType())),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("decoded", T.BooleanType()),
        ]
    )

    def _one(payload) -> tuple[list[float], bool]:
        p = payload if payload is not None else b""
        if detect_image_format(p) is not None:
            # The sniff can false-positive (e.g. a 32-bpp BMP, or random
            # bytes that pass the header checks): under the default
            # fallback contract a failed decode must degrade to the
            # byte-derived feature, never kill the job.
            try:
                return image_feature(decode_image(p)).tolist(), True
            except (NotImplementedError, ValueError):
                if strict:
                    raise
                return _fake_feature(p).tolist(), False
        if detect_audio_format(p) is not None:
            try:
                return audio_feature(*decode_audio(p)).tolist(), True
            except (NotImplementedError, ValueError):
                if strict:
                    raise
                return _fake_feature(p).tolist(), False
        if detect_video_format(p) is not None:
            try:
                return video_feature(*decode_video_frames(p)).tolist(), True
            except (NotImplementedError, ValueError):
                if strict:
                    raise
                return _fake_feature(p).tolist(), False
        if strict:
            decode_image(p)  # raises NotImplementedError with the details
        return _fake_feature(p).tolist(), False

    def _kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pairs = [_one(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": [f for f, _ in pairs],
                    "n_bytes": [
                        0 if p is None else len(p) for p in pdf["payload"]
                    ],
                    "decoded": [d for _, d in pairs],
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        _kernel, out_schema
    )


def media_exact_dup_clusters(media: DataFrame) -> DataFrame:
    """Exact payload dedup: sha2 of bytes, min-id election — JVM-side."""
    keyed = media.select(
        "media_id", F.sha2(F.col("payload"), 256).alias("payload_hash")
    )
    canon = keyed.groupBy("payload_hash").agg(
        F.min("media_id").alias("cluster_id"), F.count(F.lit(1)).alias("cluster_size")
    )
    return keyed.join(canon, "payload_hash")

