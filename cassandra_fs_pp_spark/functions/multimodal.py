"""Multimodal (image/audio/video) column handling.

The engine treats media as **opaque binary columns with typed metadata**
(BASELINE.json north star; no media ops exist in the reference — this is the
LLM-training-data extension layer). All heavy per-item work runs as
Arrow-batched ``mapInPandas`` / pandas UDFs: payloads never pass through
row-at-a-time Python, and batch shape is controlled by
``spark.sql.execution.arrow.maxRecordsPerBatch`` (set in session.tune) so a
batch of ~100 MB payloads can't OOM an executor.

Wire format — the deterministic FAKE codec
------------------------------------------
The container environment has no image/audio libraries (no PIL/cv2/librosa),
so the *decode* of real formats is stubbed (:func:`decode_real_image`), and
the engine ships a self-describing little-endian fake format that exercises
ALL the real plumbing (binary payloads, header parse, pixel math, frame
explode) with pure numpy:

* ``FIMG`` | u16 width | u16 height | u8 channels | pixels (w*h*c bytes,
  row-major)
* ``FVID`` | u16 n_frames | u16 width | u16 height | u8 channels | frames
  (n_frames consecutive FIMG pixel planes)
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


def decode_meta(payload: bytes) -> dict:
    """Parse the typed header of any FAKE payload -> MEDIA_META dict."""
    magic = payload[:4]
    if magic == IMG_MAGIC:
        w, h, c = struct.unpack_from("<HHB", payload, 4)
        return {
            "kind": "image", "width": w, "height": h, "channels": c,
            "n_frames": None, "n_samples": None, "sample_rate": None,
            "n_bytes": len(payload),
        }
    if magic == VID_MAGIC:
        nf, w, h, c = struct.unpack_from("<HHHB", payload, 4)
        return {
            "kind": "video", "width": w, "height": h, "channels": c,
            "n_frames": nf, "n_samples": None, "sample_rate": None,
            "n_bytes": len(payload),
        }
    if magic == AUD_MAGIC:
        n, sr = struct.unpack_from("<IH", payload, 4)
        return {
            "kind": "audio", "width": None, "height": None, "channels": None,
            "n_frames": None, "n_samples": n, "sample_rate": sr,
            "n_bytes": len(payload),
        }
    raise ValueError(f"unknown media magic {magic!r}")


def decode_image_pixels(payload: bytes) -> np.ndarray:
    """FIMG payload -> (height, width, channels) uint8 array."""
    if payload[:4] != IMG_MAGIC:
        raise ValueError("not a FIMG payload")
    w, h, c = struct.unpack_from("<HHB", payload, 4)
    px = np.frombuffer(payload, dtype=np.uint8, offset=9)
    return px.reshape(h, w, c)


def decode_video_frames(payload: bytes) -> Iterator[tuple[int, bytes]]:
    """FVID payload -> yields (frame_index, FIMG payload) per frame."""
    if payload[:4] != VID_MAGIC:
        raise ValueError("not a FVID payload")
    nf, w, h, c = struct.unpack_from("<HHHB", payload, 4)
    head = IMG_MAGIC + struct.pack("<HHB", w, h, c)
    n = w * h * c
    base = 11
    for f in range(nf):
        yield f, head + payload[base + f * n : base + (f + 1) * n]


PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type -> samples/pixel


def decode_png(payload: bytes) -> np.ndarray:
    """Pure-python PNG decode (8-bit gray/RGB/gray+alpha/RGBA,
    sequential OR Adam7-interlaced) from the public PNG spec — stdlib
    zlib + numpy, no imaging library. Returns (h, w, channels) uint8
    (channels axis kept even for grayscale).  Corrupt/truncated input
    raises ValueError — one exception type for pipelines to catch."""
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
            if depth != 8 or color not in _PNG_CHANNELS or interlace > 1:
                raise NotImplementedError(
                    f"PNG depth={depth} color={color} interlace={interlace}"
                )
            c = _PNG_CHANNELS[color]
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if w is None:
        raise ValueError("PNG without IHDR")
    raw = zlib.decompress(bytes(idat))
    if not interlace:
        out = _png_unfilter(raw, 0, h, w * c, c)[0]
        return out.reshape(h, w, c)
    # Adam7 (interlace=1): seven independently-filtered sub-images,
    # scattered onto the full grid by the fixed (x0, dx, y0, dy) lattice.
    full = np.zeros((h, w, c), dtype=np.uint8)
    pos2 = 0
    for x0, dx, y0, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        sub, pos2 = _png_unfilter(raw, pos2, ph, pw * c, c)
        full[y0::dy, x0::dx] = sub.reshape(ph, pw, c)
    return full


_ADAM7 = [
    (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
    (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2),
]


def _png_unfilter(
    raw: bytes, offset: int, h: int, stride: int, c: int
) -> tuple[np.ndarray, int]:
    """Undo per-row PNG filtering for one (sub-)image of ``h`` rows of
    ``stride`` bytes starting at ``offset``; returns (rows, next offset)."""
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f = raw[offset + y * (stride + 1)]
        line = np.frombuffer(
            raw,
            dtype=np.uint8,
            count=stride,
            offset=offset + y * (stride + 1) + 1,
        ).copy()
        if f == 0:
            cur = line
        elif f == 2:  # Up
            cur = line + prev  # uint8 wraps mod 256, per spec
        elif f in (1, 3, 4):  # Sub / Average / Paeth need left-to-right
            cur = line
            for x in range(stride):
                a = int(cur[x - c]) if x >= c else 0
                b = int(prev[x])
                if f == 1:
                    cur[x] = (cur[x] + a) & 0xFF
                elif f == 3:
                    cur[x] = (cur[x] + ((a + b) >> 1)) & 0xFF
                else:
                    cc = int(prev[x - c]) if x >= c else 0
                    p = a + b - cc
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                    pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                    cur[x] = (cur[x] + pr) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter {f}")
        out[y] = cur
        prev = out[y]
    return out, offset + h * (stride + 1)


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


def _tiff_lzw_decode(data: bytes) -> bytes:
    """TIFF-flavor LZW (spec §13): MSB-first variable-width codes 9->12
    bits, ClearCode 256 / EOI 257, and the TIFF "early change" — the code
    width bumps when the table reaches 2^n - 1, one entry EARLIER than
    vanilla LZW."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width, buf, nbits = 9, 0, 0
    prev: bytes | None = None
    for byte in data:
        buf = (buf << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (buf >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:  # Clear
                table = table[:258]
                width, prev = 9, None
                continue
            if code == 257:  # EOI
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:  # KwKwK case
                entry = prev + prev[:1]
                table.append(entry)
            out += entry
            prev = entry
            # TIFF early change, decoder side: the decoder's table lags
            # the encoder's by one entry (it appends the PREVIOUS word's
            # entry on each read), so the encoder's "bump when the next
            # assigned code is 2^w - 1" lands here at len == 2^w - 2.
            # The old == 2^w - 1 check was one code late — unexercised
            # until a >510-entry stream (found by the 768-byte tile
            # fixtures; the earlier strip fixtures never grew the table
            # past the 9-bit boundary).
            if len(table) == (1 << width) - 2 and width < 12:
                width += 1
    return bytes(out)


def _packbits_decode(data: bytes, expected: int) -> bytes:
    """Apple PackBits (TIFF compression 32773)."""
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expected:
        n = data[i]
        i += 1
        if n < 128:
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op
    return bytes(out)


def decode_tiff(payload: bytes) -> np.ndarray:
    """From-spec TIFF decode (TIFF 6.0): both byte orders, strip- AND
    tile-organized (§15) 8- or 16-bit, Compression 1 (none), 5 (LZW, with
    Predictor 2 horizontal differencing — restarting per tile row in
    tiled files) and 32773 (PackBits); photometrics BlackIsZero, RGB,
    WhiteIsZero (inverted on decode), and palette-color (expanded through
    the 16-bit ColorMap to RGB); PlanarConfiguration 2 reassembles its
    per-channel planes in both strip and tile organization. Anything
    outside (exotic compressions/photometrics) raises
    NotImplementedError -> optional Pillow fallback. 16-bit output comes
    back as native-order uint16."""
    if payload[:4] not in (b"II*\x00", b"MM\x00*"):
        raise ValueError("not a TIFF payload")
    bo = "<" if payload[:2] == b"II" else ">"

    def u16(off: int) -> int:
        return struct.unpack_from(bo + "H", payload, off)[0]

    def u32(off: int) -> int:
        return struct.unpack_from(bo + "I", payload, off)[0]

    ifd = u32(4)
    n_entries = u16(ifd)
    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        e = ifd + 2 + 12 * i
        tag, typ, cnt = u16(e), u16(e + 2), u32(e + 4)
        size = {1: 1, 3: 2, 4: 4}.get(typ)
        if size is None:  # RATIONAL etc. — not needed for baseline strips
            continue
        off = e + 8 if size * cnt <= 4 else u32(e + 8)
        rd = {1: lambda o: payload[o], 3: u16, 4: u32}[typ]
        tags[tag] = [rd(off + j * size) for j in range(cnt)]

    w, h = tags[256][0], tags[257][0]
    spp = tags.get(277, [1])[0]
    bps = tags.get(258, [8])
    if any(b != bps[0] for b in bps) or bps[0] not in (8, 16):
        raise NotImplementedError(
            f"TIFF BitsPerSample {bps} unsupported (8/16-bit only)"
        )
    dt = np.dtype(np.uint8) if bps[0] == 8 else np.dtype(bo + "u2")
    item = dt.itemsize
    photometric = tags.get(262, [1])[0]
    planar = tags.get(284, [1])[0]
    if photometric not in (0, 1, 2, 3):
        raise NotImplementedError(
            f"TIFF photometric {photometric} unsupported"
        )
    if photometric == 3 and (320 not in tags or spp != 1):
        raise NotImplementedError("palette TIFF without a valid ColorMap")
    if planar not in (1, 2):
        raise NotImplementedError(f"TIFF PlanarConfiguration {planar}")
    comp = tags.get(259, [1])[0]
    predictor = tags.get(317, [1])[0]

    def unblock(blob: bytes, n_px: int) -> bytes:
        if comp == 1:
            return blob[: n_px * item]
        if comp == 5:
            return _tiff_lzw_decode(blob)[: n_px * item]
        if comp == 32773:
            return _packbits_decode(blob, n_px * item)
        raise NotImplementedError(f"TIFF compression {comp} unsupported")

    if 322 in tags:  # tile-organized (TIFF 6.0 §15)
        tw, tl = tags[322][0], tags[323][0]
        out = np.zeros((h, w, spp), dtype=dt)
        ntx, nty = (w + tw - 1) // tw, (h + tl - 1) // tl
        # PlanarConfiguration=2: tile list is plane-major — each channel's
        # full tile grid before the next channel's; per-tile pixels carry
        # one sample
        tsp = spp if planar == 1 else 1  # samples per tile pixel
        tpp = ntx * nty  # tiles per plane
        for idx, (off, cnt) in enumerate(zip(tags[324], tags[325])):
            plane, tidx = divmod(idx, tpp) if planar == 2 else (None, idx)
            ty, tx = divmod(tidx, ntx)
            blob = unblock(bytes(payload[off : off + cnt]), tl * tw * tsp)
            tile = np.frombuffer(blob, dt, count=tl * tw * tsp).reshape(
                tl, tw, tsp
            )
            if predictor == 2:  # differencing restarts per tile row
                tile = np.cumsum(tile.astype(np.uint64), axis=1).astype(dt)
            ys, xs = ty * tl, tx * tw
            hh, ww = min(tl, h - ys), min(tw, w - xs)
            if planar == 2:
                out[ys : ys + hh, xs : xs + ww, plane] = tile[:hh, :ww, 0]
            else:
                out[ys : ys + hh, xs : xs + ww] = tile[:hh, :ww]
        img = out
    else:  # strip-organized
        rows_per_strip = tags.get(278, [h])[0]
        offsets, counts = tags[273], tags[279]
        # PlanarConfiguration=2 (TIFF 6.0 §official): the strip list is
        # plane-major — all of channel 0's strips, then channel 1's, ...
        spc = spp if planar == 1 else 1  # samples per strip row
        planes = 1 if planar == 1 else spp
        per_plane = len(offsets) // planes
        plane_arrays = []
        for p in range(planes):
            raw = bytearray()
            for off, cnt in zip(
                offsets[p * per_plane : (p + 1) * per_plane],
                counts[p * per_plane : (p + 1) * per_plane],
            ):
                rows = min(rows_per_strip, h - len(raw) // (w * spc * item))
                raw += unblock(bytes(payload[off : off + cnt]), rows * w * spc)
            plane_arrays.append(
                np.frombuffer(bytes(raw[: h * w * spc * item]), dt).reshape(
                    h, w, spc
                )
            )
        img = (
            plane_arrays[0]
            if planes == 1
            else np.concatenate(plane_arrays, axis=2)
        )
        if predictor == 2:
            img = np.cumsum(img.astype(np.uint64), axis=1).astype(dt)
    img = img.astype(img.dtype.newbyteorder("="), copy=False)
    if photometric == 0:  # WhiteIsZero: invert to BlackIsZero convention
        img = ((1 << bps[0]) - 1 - img.astype(np.int64)).astype(dt)
    elif photometric == 3:  # palette indices -> RGB via the 16-bit ColorMap
        cmap = np.asarray(tags[320], dtype=np.uint32)
        n = 1 << bps[0]
        idx = img[:, :, 0].astype(np.int64)
        img = np.stack(
            [(cmap[plane * n + idx] >> 8).astype(np.uint8) for plane in range(3)],
            axis=2,
        )
        return img
    return img[:, :, 0] if spp == 1 else img


def encode_tiff(img: np.ndarray) -> bytes:
    """Minimal from-spec TIFF encode (little-endian, uncompressed, one
    strip) of an (h, w[, c]) uint8 array — the interchange twin of
    :func:`encode_png` for TIFF-speaking tools."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    data = img.tobytes()
    # TIFF 6.0 §18: gray+alpha is photometric 1 + ExtraSamples, RGBA is
    # photometric 2 + ExtraSamples; without tag 338 the extra channel is
    # nonconforming and strict readers may reject or misread it.
    photometric = 1 if c <= 2 else 2
    has_alpha = c in (2, 4)
    n = 10 + (1 if has_alpha else 0)
    ifd_off = 8
    bps_off = ifd_off + 2 + n * 12 + 4
    data_off = bps_off + 2 * c

    def entry(tag: int, typ: int, cnt: int, val: int) -> bytes:
        return struct.pack("<HHII", tag, typ, cnt, val)

    entries = [
        entry(256, 4, 1, w),
        entry(257, 4, 1, h),
        (
            entry(258, 3, c, bps_off)
            if c > 2
            else entry(258, 3, c, 8 | (8 << 16) if c == 2 else 8)
        ),
        entry(259, 3, 1, 1),
        entry(262, 3, 1, photometric),
        entry(273, 4, 1, data_off),
        entry(277, 3, 1, c),
        entry(278, 4, 1, h),
        entry(279, 4, 1, len(data)),
        entry(284, 3, 1, 1),  # chunky planar config
    ]
    if has_alpha:
        entries.append(entry(338, 3, 1, 2))  # unassociated alpha
    entries.sort(key=lambda e: struct.unpack("<H", e[:2])[0])
    ifd = struct.pack("<H", n) + b"".join(entries) + struct.pack("<I", 0)
    bps_arr = struct.pack(f"<{c}H", *([8] * c))
    return b"II*\x00" + struct.pack("<I", ifd_off) + ifd + bps_arr + data


def decode_real_image(payload: bytes) -> np.ndarray:
    """Decode a REAL image payload: PNG (sequential or Adam7), baseline +
    progressive + 12-bit JPEG, strip/tiled 8/16-bit (incl. palette,
    WhiteIsZero, planar) TIFF and lossless WebP (VP8L) via the built-in
    from-spec pure-python decoders (no imaging library needed); FIMG via
    the fake codec; anything else (lossy WebP, arithmetic
    JPEG, JPEG-in-TIFF, ...) via optional Pillow when present.
    Animated LOSSLESS WebP composes via webp.decode_webp_frames (first
    frame here)."""
    if payload[:8] == PNG_SIG:
        return decode_png(payload)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        try:
            return decode_tiff(payload)
        except NotImplementedError:
            pass  # JPEG-in-TIFF / exotic compression or photometric -> Pillow below
    if payload[:4] == IMG_MAGIC:
        return decode_image_pixels(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from ..webp import decode_webp

        try:
            return decode_webp(payload)
        except NotImplementedError:
            pass  # lossy VP8 (incl. lossy animation frames) -> Pillow below
    if payload[:2] == b"\xff\xd8":
        from ..jpeg import decode_jpeg

        try:
            return decode_jpeg(payload)
        except NotImplementedError:
            pass  # 12-bit / CMYK / arithmetic -> Pillow fallback below
    try:
        from PIL import Image
    except ImportError as e:  # pragma: no cover - optional dep
        raise NotImplementedError(
            "this image format needs the optional 'Pillow' dependency "
            "(PNG, baseline JPEG and FIMG decode built-in)"
        ) from e
    import io

    return np.asarray(Image.open(io.BytesIO(payload)))


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


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """From-spec RIFF/WAVE PCM decode -> ((n_samples, n_channels) int16
    array, sample_rate). 8-bit (unsigned, rescaled to int16) and 16-bit
    integer PCM; float/ADPCM formats raise NotImplementedError."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAVE payload")
    fmt = data = None
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAVE missing fmt/data chunk")
    audio_format, ch, rate, _br, _ba, bps = struct.unpack_from("<HHIIHH", fmt, 0)
    if audio_format != 1:
        raise NotImplementedError(f"WAVE format {audio_format} (non-PCM)")
    if bps == 16:
        s = np.frombuffer(data, dtype="<i2")
    elif bps == 8:
        s = ((np.frombuffer(data, dtype=np.uint8).astype(np.int16) - 128) << 8)
    else:
        raise NotImplementedError(f"{bps}-bit WAVE unsupported")
    return s.reshape(-1, ch), rate


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """(n_samples,) or (n_samples, n_channels) int16 -> 16-bit PCM WAVE
    bytes — the interchange twin of :func:`decode_wav`."""
    if samples.ndim == 1:
        samples = samples[:, None]
    n, ch = samples.shape
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, ch, sample_rate, sample_rate * ch * 2, ch * 2, 16
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_real_audio(payload: bytes) -> tuple[np.ndarray, int]:
    """Real-audio twin of :func:`decode_real_image`: WAVE via the
    built-in from-spec PCM decoder, FAUD via the fake codec. Returns
    ((n_samples, n_channels) int16, sample_rate)."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return decode_wav(payload)
    if payload[:4] == AUD_MAGIC:
        n, sr = struct.unpack_from("<IH", payload, 4)
        s = np.frombuffer(payload, dtype="<i2", offset=10, count=n)
        return s[:, None], sr
    raise ValueError(f"unknown audio magic {payload[:4]!r}")


def audio_stats(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
) -> DataFrame:
    """Decode audio (fake FAUD or real WAVE, via
    :func:`decode_real_audio`) -> (id, n_samples, sample_rate, mean_amp,
    rms) over all channels."""
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
