"""Multimodal (image/audio/video) column handling.

The engine treats media as **opaque binary columns with typed metadata**
(BASELINE.json north star; no media ops exist in the reference — this is the
LLM-training-data extension layer). All heavy per-item work runs as
Arrow-batched ``mapInPandas`` / pandas UDFs: payloads never pass through
row-at-a-time Python, and batch shape is controlled by
``spark.sql.execution.arrow.maxRecordsPerBatch`` (set in session.tune) so a
batch of ~100 MB payloads can't OOM an executor.

Wire formats
------------
The engine decodes the media it encodes, with stdlib zlib + numpy and no
imaging or audio library; :func:`decode_real_image` dispatches on the magic
bytes, and any other format raises ``ValueError``, as corrupt input does:

* PNG — :func:`encode_png` (8-bit, filter 0, not interlaced; also the
  plot format of ``plots.py``) and the :func:`decode_png` that reads it back;
* JPEG — grayscale baseline, ``jpeg.py``;
* the deterministic FAKE codec, a self-describing little-endian format
  that exercises the plumbing (binary payloads, header parse, pixel math,
  frame explode):
  * ``FIMG`` | u16 width | u16 height | u8 channels | pixels (w*h*c
    bytes, row-major)
  * ``FVID`` | u16 n_frames | u16 width | u16 height | u8 channels |
    frames (n_frames consecutive FIMG pixel planes)
  * ``FAUD`` | u32 n_samples | u16 sample_rate_hz | samples (n int16 LE)

Deterministic generation: pixel ``i`` of item ``k`` is ``(k + i) % 256``;
audio sample ``i`` is ``((k * 7 + i * 3) % 512) - 256`` — closed forms a SQL
oracle can replicate without touching binary.

Scale stance: media tables partition by item id (payloads are big — keep
``spark.sql.files.maxPartitionBytes`` low for media parquet); every op here
is embarrassingly parallel per item, no shuffle.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

IMG_MAGIC = b"FIMG"
VID_MAGIC = b"FVID"
AUD_MAGIC = b"FAUD"

# typed metadata struct shared by every media kind (absent dims -> null)
MEDIA_META = StructType(
    [
        StructField("kind", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_bytes", IntegerType()),
    ]
)


# --------------------------------------------------------------------------- #
# codec (plain numpy; used inside pandas UDFs)
# --------------------------------------------------------------------------- #


def encode_fake_image(k: int, width: int, height: int, channels: int = 3) -> bytes:
    """Deterministic fake image: pixel i = (k + i) % 256."""
    n = width * height * channels
    px = ((k + np.arange(n, dtype=np.int64)) % 256).astype(np.uint8)
    return IMG_MAGIC + struct.pack("<HHB", width, height, channels) + px.tobytes()


def encode_fake_video(
    k: int, n_frames: int, width: int, height: int, channels: int = 1
) -> bytes:
    """Deterministic fake video: frame f pixel i = (k + f * 17 + i) % 256."""
    head = VID_MAGIC + struct.pack("<HHHB", n_frames, width, height, channels)
    n = width * height * channels
    planes = [
        ((k + f * 17 + np.arange(n, dtype=np.int64)) % 256).astype(np.uint8).tobytes()
        for f in range(n_frames)
    ]
    return head + b"".join(planes)


def encode_fake_audio(k: int, n_samples: int, sample_rate: int = 16000) -> bytes:
    """Deterministic fake audio: sample i = ((k*7 + i*3) % 512) - 256."""
    s = (((k * 7 + np.arange(n_samples, dtype=np.int64) * 3) % 512) - 256).astype(
        np.int16
    )
    return AUD_MAGIC + struct.pack("<IH", n_samples, sample_rate) + s.tobytes()


_HEADERS = {IMG_MAGIC: "<HHB", VID_MAGIC: "<HHHB", AUD_MAGIC: "<IH"}


def _header(payload: bytes, magic: bytes) -> tuple[int, ...]:
    """The fixed header fields after ``magic``. A payload too short to hold
    them is corrupt input: ``ValueError``, not a leaked ``struct.error``."""
    if payload[:4] != magic:
        raise ValueError(f"not a {magic.decode()} payload")
    fmt = _HEADERS[magic]
    if len(payload) < 4 + struct.calcsize(fmt):
        raise ValueError(f"truncated {magic.decode()} header ({len(payload)} bytes)")
    return struct.unpack_from(fmt, payload, 4)


def decode_meta(payload: bytes) -> dict:
    """Parse the typed header of any FAKE payload -> MEDIA_META dict."""
    magic = payload[:4]
    if magic == IMG_MAGIC:
        w, h, c = _header(payload, magic)
        return {
            "kind": "image", "width": w, "height": h, "channels": c,
            "n_frames": None, "n_samples": None, "sample_rate": None,
            "n_bytes": len(payload),
        }
    if magic == VID_MAGIC:
        nf, w, h, c = _header(payload, magic)
        return {
            "kind": "video", "width": w, "height": h, "channels": c,
            "n_frames": nf, "n_samples": None, "sample_rate": None,
            "n_bytes": len(payload),
        }
    if magic == AUD_MAGIC:
        n, sr = _header(payload, magic)
        return {
            "kind": "audio", "width": None, "height": None, "channels": None,
            "n_frames": None, "n_samples": n, "sample_rate": sr,
            "n_bytes": len(payload),
        }
    raise ValueError(f"unknown media magic {magic!r}")


def decode_image_pixels(payload: bytes) -> np.ndarray:
    """FIMG payload -> (height, width, channels) uint8 array."""
    w, h, c = _header(payload, IMG_MAGIC)
    px = np.frombuffer(payload, dtype=np.uint8, offset=9)
    return px.reshape(h, w, c)


def decode_video_frames(payload: bytes) -> Iterator[tuple[int, bytes]]:
    """FVID payload -> yields (frame_index, FIMG payload) per frame."""
    nf, w, h, c = _header(payload, VID_MAGIC)
    n = w * h * c
    base = 11
    if len(payload) != base + nf * n:
        raise ValueError(
            f"FVID header promises {nf} frames of {n} bytes; "
            f"payload holds {len(payload) - base}"
        )
    head = IMG_MAGIC + struct.pack("<HHB", w, h, c)
    for f in range(nf):
        yield f, head + payload[base + f * n : base + (f + 1) * n]


PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type -> samples/pixel


def decode_png(payload: bytes) -> np.ndarray:
    """Decode the PNGs :func:`encode_png` writes (8-bit gray, gray+alpha,
    RGB or RGBA; not interlaced; every scanline filter 0) with stdlib zlib
    + numpy. Returns (h, w, channels) uint8 (channels axis kept even for
    grayscale). Corrupt input and every other PNG variant raise
    ValueError — one exception type for pipelines to catch."""
    import zlib

    try:
        return _decode_png(payload)
    except (struct.error, zlib.error, IndexError, KeyError) as e:
        raise ValueError(f"corrupt PNG: {type(e).__name__}: {e}") from e


def _decode_png(payload: bytes) -> np.ndarray:
    import zlib

    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, w = 8, None
    idat = bytearray()
    while pos < len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or color not in _PNG_CHANNELS or interlace:
                raise ValueError(
                    f"unsupported PNG depth={depth} color={color} "
                    f"interlace={interlace}"
                )
            c = _PNG_CHANNELS[color]
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if w is None:
        raise ValueError("PNG without IHDR")
    rows = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    rows = rows.reshape(h, w * c + 1)  # ValueError on a short/long stream
    if rows[:, 0].any():
        raise ValueError(f"unsupported PNG filter {int(rows[:, 0].max())}")
    return rows[:, 1:].reshape(h, w, c).copy()


def encode_png(img: np.ndarray) -> bytes:
    """Pure-python PNG encode (filter 0, one IDAT) of an (h, w, c) or
    (h, w) uint8 array — a REAL interchange artifact any viewer opens."""
    import zlib

    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(h))

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def decode_real_image(payload: bytes) -> np.ndarray:
    """Decode an image payload the engine wrote: PNG (:func:`encode_png`),
    grayscale baseline JPEG (``jpeg.encode_jpeg``) or FIMG (the fake
    codec). Any other format raises ValueError, as corrupt input does."""
    if payload[:8] == PNG_SIG:
        return decode_png(payload)
    if payload[:4] == IMG_MAGIC:
        return decode_image_pixels(payload)
    if payload[:2] == b"\xff\xd8":
        from ..jpeg import decode_jpeg

        return decode_jpeg(payload)
    raise ValueError(f"unsupported image format {payload[:12]!r}")


# --------------------------------------------------------------------------- #
# DataFrame operators (Arrow-batched)
# --------------------------------------------------------------------------- #


def synthesize_media(
    df: DataFrame,
    id_col: str,
    *,
    kind: str = "image",
    out_col: str = "payload",
) -> DataFrame:
    """Attach a deterministic FAKE payload per row (test/bench corpus).

    Dims derive from the id: image ``(16 + k%16) x (8 + k%8) x 3``; video
    ``(1 + k%5)`` frames of ``8x8x1``; audio ``100 + k%100`` samples.
    """
    schema = StructType(df.schema.fields + [StructField(out_col, BinaryType())])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ks = pdf[id_col].astype("int64")
            if kind == "image":
                pdf[out_col] = [
                    encode_fake_image(k, 16 + k % 16, 8 + k % 8, 3) for k in ks
                ]
            elif kind == "video":
                pdf[out_col] = [
                    encode_fake_video(k, 1 + k % 5, 8, 8, 1) for k in ks
                ]
            elif kind == "audio":
                pdf[out_col] = [
                    encode_fake_audio(k, 100 + k % 100, 16000) for k in ks
                ]
            else:
                raise ValueError(f"unknown media kind {kind!r}")
            yield pdf

    return df.mapInPandas(gen, schema=schema)


def with_media_meta(
    df: DataFrame, payload_col: str = "payload", out_col: str = "meta"
) -> DataFrame:
    """Header parse -> typed MEDIA_META struct column (Arrow-batched)."""
    schema = StructType(df.schema.fields + [StructField(out_col, MEDIA_META)])

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf[out_col] = [decode_meta(p) for p in pdf[payload_col]]
            yield pdf

    return df.mapInPandas(parse, schema=schema)


def image_stats(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
) -> DataFrame:
    """Decode + per-image pixel statistics -> (id, width, height, channels,
    mean_px, min_px, max_px). The shape every real feature-extraction op
    takes: narrow output, decode confined to the executor batch."""
    # r17 (guide §4): only (id, payload) cross the JVM->Python boundary —
    # a wider caller frame would otherwise ship every column through Arrow.
    df = df.select(id_col, payload_col)
    schema = StructType(
        [
            df.schema[id_col],
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
            StructField("channels", IntegerType()),
            StructField("mean_px", DoubleType()),
            StructField("min_px", IntegerType()),
            StructField("max_px", IntegerType()),
        ]
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for k, p in zip(pdf[id_col], pdf[payload_col]):
                img = decode_image_pixels(p)
                h, w, c = img.shape
                rows.append(
                    (k, w, h, c, float(img.mean()), int(img.min()), int(img.max()))
                )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "width", "height", "channels",
                         "mean_px", "min_px", "max_px"],
            )

    return df.mapInPandas(stats, schema=schema)


def video_frame_sample(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
    every: int = 1,
) -> DataFrame:
    """Explode a video payload into sampled frame rows (id, frame_idx,
    frame_payload) — 1->N mapInPandas, the frame-sampling shape."""
    # r17 (guide §4): only (id, payload) cross the JVM->Python boundary —
    # a wider caller frame would otherwise ship every column through Arrow.
    df = df.select(id_col, payload_col)
    schema = StructType(
        [
            df.schema[id_col],
            StructField("frame_idx", IntegerType()),
            StructField("frame", BinaryType()),
        ]
    )

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for k, p in zip(pdf[id_col], pdf[payload_col]):
                for f, fp in decode_video_frames(p):
                    if f % every == 0:
                        rows.append((k, f, fp))
            yield pd.DataFrame(rows, columns=[id_col, "frame_idx", "frame"])

    return df.mapInPandas(frames, schema=schema)


def decode_real_audio(payload: bytes) -> tuple[np.ndarray, int]:
    """FAUD payload -> ((n_samples, 1) int16, sample_rate). Any other
    format raises ValueError, as in :func:`decode_real_image`."""
    n, sr = _header(payload, AUD_MAGIC)
    s = np.frombuffer(payload, dtype="<i2", offset=10, count=n)
    return s[:, None], sr


def audio_stats(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
) -> DataFrame:
    """Decode FAUD audio (:func:`decode_real_audio`) -> (id, n_samples,
    sample_rate, mean_amp, rms)."""
    # r17 (guide §4): only (id, payload) cross the JVM->Python boundary —
    # a wider caller frame would otherwise ship every column through Arrow.
    df = df.select(id_col, payload_col)
    schema = StructType(
        [
            df.schema[id_col],
            StructField("n_samples", IntegerType()),
            StructField("sample_rate", IntegerType()),
            StructField("mean_amp", DoubleType()),
            StructField("rms", DoubleType()),
        ]
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for k, p in zip(pdf[id_col], pdf[payload_col]):
                samples, rate = decode_real_audio(bytes(p))
                s = samples.astype(np.float64).reshape(-1)
                rows.append(
                    (
                        k,
                        int(samples.shape[0]),
                        int(rate),
                        float(s.mean()),
                        float(np.sqrt((s * s).mean())),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "n_samples", "sample_rate", "mean_amp", "rms"],
            )

    return df.mapInPandas(stats, schema=schema)


def noise_pixels(k: int, n: int = 1024) -> np.ndarray:
    """Deterministic k-seeded noise pixels via a pure-integer mix —
    SQL-expressible (the mm_phash oracle replays this formula verbatim in
    DuckDB), unlike a PCG64 stream. Per index i:
    ``h = ((k+1)*2654435761 + (i+1)*40503 + (k*i mod 65536)*2971) mod 2^32;
    h ^= h >> 15; px = h mod 256``. All intermediates < 2^48 (exact in
    int64 on both engines); measured dispersion: independent images land
    ~32 hamming bits apart under :func:`phash64`, min 14 over 20k random
    pairs."""
    i = np.arange(n, dtype=np.int64)
    h = ((k + 1) * 2654435761 + (i + 1) * 40503 + (k * i % 65536) * 2971) % (
        1 << 32
    )
    h = h ^ (h >> 15)
    return (h % 256).astype(np.uint8)


def encode_noise_image(k: int, width: int = 32, height: int = 32) -> bytes:
    """Deterministic k-seeded NOISE image — the corpus for perceptual-hash
    tests: unlike the gradient fake (whose images are all value-shifts of
    one sawtooth, making every pair a pHash near-dup), independent noise
    gives uniform, well-separated hashes. Single-channel, pixels from the
    integer :func:`noise_pixels` mix so the full image -> pHash -> banded
    pairs pipeline has an exact DuckDB oracle."""
    px = noise_pixels(k, width * height)
    return IMG_MAGIC + struct.pack("<HHB", width, height, 1) + px.tobytes()


def perturb_image(payload: bytes, delta: int = 7, patch: int = 3) -> bytes:
    """Near-duplicate mutation: clipped +delta on the top-left
    patch x patch pixel block, re-encoded in place — the 'same photo,
    small edit' fixture for perceptual dedup."""
    img = decode_image_pixels(payload).copy()
    img[:patch, :patch, :] = np.clip(
        img[:patch, :patch, :].astype(np.int16) + delta, 0, 255
    ).astype(np.uint8)
    h, w, c = img.shape
    return IMG_MAGIC + struct.pack("<HHB", w, h, c) + img.tobytes()


PHASH_DCT_SCALE = 1 << 14


def phash_basis() -> np.ndarray:
    """The 8x32 integer DCT-II basis used by :func:`phash64`:
    ``round(cos(pi*(2i+1)*u/64) * 2^14)`` for u in 0..7 — the only float
    step in the hash, frozen into constants shared verbatim by the Spark
    side and the DuckDB oracle (the SQL inlines this exact table)."""
    i = np.arange(32)
    u = np.arange(8)
    return np.round(
        np.cos(np.pi * (2 * i[None, :] + 1) * u[:, None] / 64)
        * PHASH_DCT_SCALE
    ).astype(np.int64)


_PHASH_BASIS = phash_basis()


def phash64(payload: bytes) -> int:
    """64-bit perceptual hash (pHash, public scheme) in EXACT integer
    arithmetic: channel-SUM grayscale (scale-invariant under the median
    threshold, so ``sum`` == ``mean`` bit-for-bit while staying integer)
    -> nearest-gather 32x32 resize -> 2-D DCT-II via the fixed-point
    :func:`phash_basis` matmul -> top-left 8x8 coefficients -> median
    threshold ``2*c > blk_(31) + blk_(32)`` (twice-the-median compare
    keeps the even-count median integer). Every intermediate is < 2^53,
    so the DuckDB oracle reproduces the hash bit-for-bit; no float enters
    the pipeline. Returns a signed int64 (bit 63 may be set)."""
    img = decode_image_pixels(payload).astype(np.int64)
    gray = img.sum(axis=2)
    h, w = gray.shape
    n = 32
    yi = (np.arange(n) * h // n).clip(0, h - 1)
    xi = (np.arange(n) * w // n).clip(0, w - 1)
    small = gray[np.ix_(yi, xi)]
    dct = _PHASH_BASIS @ small @ _PHASH_BASIS.T  # int64-exact (8x8)
    block = dct.ravel()
    srt = np.sort(block)
    med2 = int(srt[31]) + int(srt[32])
    val = 0
    for i, c in enumerate(block):
        if 2 * int(c) > med2:
            val |= 1 << i
    if val >= 1 << 63:
        val -= 1 << 64
    return val


def image_phash(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
) -> DataFrame:
    """Per-image 64-bit perceptual hash -> (id, phash bigint); feed into
    ``operators/textdedup.simhash_band_pairs(bits=64)`` for banded
    hamming near-dup search — image dedup with the text-dedup machinery."""
    from pyspark.sql.types import LongType

    # r17 (guide §4): only (id, payload) cross the JVM->Python boundary —
    # a wider caller frame would otherwise ship every column through Arrow.
    df = df.select(id_col, payload_col)
    schema = StructType([df.schema[id_col], StructField("phash", LongType())])

    def ph(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (k, phash64(p))
                for k, p in zip(pdf[id_col], pdf[payload_col])
            ]
            yield pd.DataFrame(rows, columns=[id_col, "phash"])

    return df.mapInPandas(ph, schema=schema)


def synthesize_noise_media(
    df: DataFrame,
    id_col: str,
    *,
    out_col: str = "payload",
) -> DataFrame:
    """Attach a k-seeded noise FIMG payload per row (pHash corpus)."""
    schema = StructType(df.schema.fields + [StructField(out_col, BinaryType())])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf[out_col] = [
                encode_noise_image(int(k)) for k in pdf[id_col].astype("int64")
            ]
            yield pdf

    return df.mapInPandas(gen, schema=schema)
