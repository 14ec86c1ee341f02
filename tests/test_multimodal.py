"""Multimodal column plumbing: fake codec roundtrips, Arrow-batched
decode/stats/frame-sample ops, batch-shape invariance."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cassandra_fs_pp_spark.functions.multimodal import (
    audio_stats,
    decode_image_pixels,
    decode_meta,
    decode_real_audio,
    decode_real_image,
    decode_video_frames,
    encode_fake_audio,
    encode_fake_image,
    encode_fake_video,
    image_stats,
    synthesize_media,
    video_frame_sample,
    with_media_meta,
)


def test_codec_roundtrip():
    p = encode_fake_image(7, 12, 5, 3)
    m = decode_meta(p)
    assert (m["kind"], m["width"], m["height"], m["channels"]) == ("image", 12, 5, 3)
    img = decode_image_pixels(p)
    assert img.shape == (5, 12, 3)
    # pixel i = (k + i) % 256, row-major
    assert img.ravel()[0] == 7 and img.ravel()[10] == 17

    v = encode_fake_video(3, 4, 8, 8, 1)
    mv = decode_meta(v)
    assert (mv["kind"], mv["n_frames"]) == ("video", 4)

    a = encode_fake_audio(5, 50, 8000)
    ma = decode_meta(a)
    assert (ma["kind"], ma["n_samples"], ma["sample_rate"]) == ("audio", 50, 8000)


def test_png_roundtrip_all_channel_counts():
    from cassandra_fs_pp_spark.functions.multimodal import decode_png, encode_png

    rng = np.random.RandomState(7)
    for c in (1, 2, 3, 4):
        img = rng.randint(0, 256, size=(5, 7, c), dtype=np.uint8)
        out = decode_png(encode_png(img))
        np.testing.assert_array_equal(out, img)


def test_real_decode_dispatch():
    """decode_real_image: PNG -> decode_png, baseline grayscale JPEG ->
    jpeg.decode_jpeg, FIMG -> fake codec; corrupt JPEG is a ValueError."""
    from cassandra_fs_pp_spark.functions.multimodal import encode_png
    from cassandra_fs_pp_spark.jpeg import encode_jpeg

    img = np.arange(24, dtype=np.uint8).reshape(2, 4, 3)
    np.testing.assert_array_equal(decode_real_image(encode_png(img)), img)

    fake = encode_fake_image(0, 4, 4, 1)
    assert decode_real_image(fake).shape == (4, 4, 1)

    flat = np.full((8, 8), 100, dtype=np.uint8)
    np.testing.assert_array_equal(decode_real_image(encode_jpeg(flat)), flat)

    # CORRUPT JPEG (valid SOI, garbage after) is a ValueError from the
    # built-in decoder
    with pytest.raises(ValueError):
        decode_real_image(b"\xff\xd8\xff\xe0 not really a jpeg")


def _png(img: np.ndarray, *, interlace: int = 0, filters=None) -> bytes:
    """An (h, w, c) uint8 image laid out as encode_png writes it (one IDAT,
    raw scanlines), with the IHDR interlace flag or the per-row filter
    bytes set to other values."""
    import struct
    import zlib

    from cassandra_fs_pp_spark.functions.multimodal import PNG_SIG

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(
            ">I", zlib.crc32(t + d) & 0xFFFFFFFF
        )

    h, w, c = img.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    filters = filters or [0] * h
    raw = b"".join(bytes([f]) + img[y].tobytes() for y, f in enumerate(filters))
    return (
        PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, interlace))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_png_decode_all_filter_types():
    """encode_png writes filter 0 on every scanline and only that decodes:
    a scanline tagged Sub/Up/Average/Paeth (1-4) on any row raises
    ValueError naming the filter instead of returning unfiltered bytes."""
    from cassandra_fs_pp_spark.functions.multimodal import decode_png, encode_png

    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, size=(5, 4, 3), dtype=np.uint8)
    assert _png(img) == encode_png(img)
    np.testing.assert_array_equal(decode_png(_png(img)), img)
    for f in (1, 2, 3, 4):
        for row in (0, 4):
            filters = [0] * 5
            filters[row] = f
            with pytest.raises(ValueError, match=f"unsupported PNG filter {f}"):
                decode_real_image(_png(img, filters=filters))


def test_decode_png_adam7_interlaced():
    """Adam7-interlaced PNGs (all sizes incl. degenerate passes) raise
    ValueError; the same pixels laid out sequentially decode exactly."""
    from cassandra_fs_pp_spark.functions.multimodal import decode_png

    rng = np.random.RandomState(41)
    for h, w, c in [(1, 1, 1), (3, 3, 3), (8, 8, 4), (5, 7, 2), (13, 4, 3)]:
        img = rng.randint(0, 256, (h, w, c), dtype=np.uint8)
        np.testing.assert_array_equal(decode_png(_png(img)), img)
        with pytest.raises(ValueError, match="interlace=1"):
            decode_png(_png(img, interlace=1))


def _tiff(img: np.ndarray, *, endian: str = "<", compression: int = 1) -> bytes:
    """A well-formed one-strip baseline grayscale TIFF of an (h, w) uint8
    image; ``compression`` is written into tag 259 as given."""
    import struct

    h, w = img.shape
    n, ifd_off = 8, 8
    data_off = ifd_off + 2 + n * 12 + 4

    def entry(tag: int, typ: int, val: int) -> bytes:
        if typ == 3:  # SHORT values are left-justified in the 4-byte field
            return struct.pack(endian + "HHIHH", tag, typ, 1, val, 0)
        return struct.pack(endian + "HHII", tag, typ, 1, val)

    entries = [
        entry(256, 4, w),
        entry(257, 4, h),
        entry(258, 3, 8),
        entry(259, 3, compression),
        entry(262, 3, 1),
        entry(273, 4, data_off),
        entry(278, 4, h),
        entry(279, 4, h * w),
    ]
    magic = b"II*\x00" if endian == "<" else b"MM\x00*"
    return (
        magic
        + struct.pack(endian + "I", ifd_off)
        + struct.pack(endian + "H", n)
        + b"".join(entries)
        + struct.pack(endian + "I", 0)
        + img.tobytes()
    )


def test_tiff_unsupported_raises():
    """The engine writes no TIFF, so even a well-formed baseline TIFF, in
    either byte order and with any compression, is rejected by the image
    dispatcher with the ValueError corrupt input gets."""
    img = np.arange(16, dtype=np.uint8).reshape(4, 4)
    for endian in ("<", ">"):
        for compression in (1, 5, 8, 32773):
            payload = _tiff(img, endian=endian, compression=compression)
            with pytest.raises(ValueError, match="unsupported image format"):
                decode_real_image(payload)


WAVE_PCM16_EMPTY = (
    b"RIFF\x24\x00\x00\x00WAVEfmt \x10\x00\x00\x00"
    b"\x01\x00\x01\x00\x40\x1f\x00\x00\x80\x3e\x00\x00\x02\x00\x10\x00"
    b"data\x00\x00\x00\x00"
)


@pytest.mark.parametrize(
    "decode, payload",
    [
        pytest.param(decode_real_image, b"II*\x00\x08\x00\x00\x00", id="tiff"),
        pytest.param(decode_real_image, b"MM\x00*\x00\x00\x00\x08", id="tiff-be"),
        pytest.param(
            decode_real_image,
            b"RIFF\x10\x00\x00\x00WEBPVP8L\x04\x00\x00\x00\x2f\x00\x00\x00",
            id="webp",
        ),
        pytest.param(decode_real_image, b"GIF89a\x01\x00\x01\x00\x00", id="gif"),
        pytest.param(decode_real_image, b"\x00\x01garbage", id="garbage"),
        pytest.param(decode_real_image, b"", id="empty"),
        pytest.param(decode_real_audio, WAVE_PCM16_EMPTY, id="wave"),
    ],
)
def test_unsupported_media_raises_value_error(decode, payload):
    """The engine decodes only the formats it encodes; any other payload
    fails with the ValueError corrupt input gets, never a
    NotImplementedError or a leaked struct.error."""
    with pytest.raises(ValueError):
        decode(payload)


def test_fake_codec_truncated_header_raises_value_error():
    for payload in (b"FIMG\x01", b"FVID\x01\x00\x04", b"FAUD\x10"):
        with pytest.raises(ValueError, match="truncated"):
            decode_meta(payload)


def test_truncated_video_payload_raises_value_error():
    """A cut FVID payload must not yield a short last frame: 3 frames of
    4x4x1 with 10 bytes cut would otherwise come out as 25/25/15 bytes."""
    v = encode_fake_video(1, 3, 4, 4, 1)
    assert [len(fp) for _, fp in decode_video_frames(v)] == [25, 25, 25]
    with pytest.raises(ValueError, match="3 frames of 16 bytes"):
        list(decode_video_frames(v[:-10]))


def test_png_payloads_through_spark_pipeline(spark):
    """REAL (PNG) payload column through the same Arrow mapInPandas
    plumbing as the fake codec: encode per row, decode+stats distributed."""
    import pandas as pd
    from pyspark.sql.types import (
        BinaryType, DoubleType, LongType, StructField, StructType,
    )

    from cassandra_fs_pp_spark.functions.multimodal import (
        decode_real_image, encode_png,
    )

    ids = spark.range(0, 32).withColumnRenamed("id", "media_id")

    enc_schema = StructType(
        [StructField("media_id", LongType()), StructField("payload", BinaryType())]
    )

    def enc(batches):
        for pdf in batches:
            rng = np.random.RandomState(0)
            pdf["payload"] = [
                encode_png(
                    (np.full((4 + k % 3, 5, 3), k, dtype=np.uint8))
                ) for k in pdf["media_id"].astype(int)
            ]
            yield pdf[["media_id", "payload"]]

    stats_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("mean_px", DoubleType()),
            StructField("h", LongType()),
        ]
    )

    def stats(batches):
        for pdf in batches:
            rows = []
            for k, payload in zip(pdf["media_id"], pdf["payload"]):
                arr = decode_real_image(bytes(payload))
                rows.append((int(k), float(arr.mean()), arr.shape[0]))
            yield pd.DataFrame(rows, columns=["media_id", "mean_px", "h"])

    out = (
        ids.mapInPandas(enc, schema=enc_schema)
        .mapInPandas(stats, schema=stats_schema)
        .collect()
    )
    assert len(out) == 32
    for r in out:
        assert r["mean_px"] == float(r["media_id"])
        assert r["h"] == 4 + r["media_id"] % 3


@pytest.fixture(scope="module")
def media(spark):
    ids = spark.range(0, 64).withColumnRenamed("id", "media_id")
    return synthesize_media(ids, "media_id", kind="image").cache()


def test_meta_and_stats(spark, media):
    meta = with_media_meta(media).select("media_id", "meta.*")
    row = meta.where(F.col("media_id") == 5).collect()[0]
    assert (row["width"], row["height"], row["channels"]) == (21, 13, 3)
    assert row["n_bytes"] == 9 + 21 * 13 * 3

    st = image_stats(media, "media_id").where(F.col("media_id") == 5).collect()[0]
    n = 21 * 13 * 3
    expected_mean = float(np.mean((5 + np.arange(n)) % 256))
    assert st["mean_px"] == pytest.approx(expected_mean)


def test_stats_batch_shape_invariant(spark, media):
    """Same result whatever the Arrow batch/partition layout."""
    a = image_stats(media, "media_id").orderBy("media_id").collect()
    b = (
        image_stats(media.repartition(13), "media_id")
        .orderBy("media_id")
        .collect()
    )
    assert a == b


def test_video_frame_sample(spark):
    ids = spark.range(0, 20).withColumnRenamed("id", "media_id")
    vids = synthesize_media(ids, "media_id", kind="video")
    frames = video_frame_sample(vids, "media_id", every=2)
    # k frames = 1 + k%5; sampled every 2 -> ceil(k_frames / 2)
    got = {
        r["media_id"]: r["n"]
        for r in frames.groupBy("media_id").agg(F.count("*").alias("n")).collect()
    }
    for k in range(20):
        nf = 1 + k % 5
        assert got[k] == (nf + 1) // 2
    # each frame decodes as a valid image
    one = frames.where("media_id = 9 AND frame_idx = 2").collect()[0]
    img = decode_image_pixels(bytes(one["frame"]))
    assert img.shape == (8, 8, 1)
    assert img.ravel()[0] == (9 + 2 * 17) % 256


def test_audio_stats(spark):
    ids = spark.range(0, 10).withColumnRenamed("id", "media_id")
    auds = synthesize_media(ids, "media_id", kind="audio")
    st = audio_stats(auds, "media_id").where(F.col("media_id") == 4).collect()[0]
    n = 100 + 4 % 100
    s = ((4 * 7 + np.arange(n) * 3) % 512) - 256
    assert st["n_samples"] == n
    assert st["mean_amp"] == pytest.approx(float(s.mean()))
    assert st["rms"] == pytest.approx(float(np.sqrt((s.astype(float) ** 2).mean())))


def test_phash_planted_near_dups_and_reference(spark):
    """mm_phash_pairs finds every planted (k, k+100000) perturbed pair
    with small hamming; phash64 matches an independent numpy DCT
    reference; a perturbed image's hash stays within the band bound
    while independent noise images differ by ~32 bits."""
    import numpy as np

    import __spark_entry__ as entrymod
    from cassandra_fs_pp_spark.functions.multimodal import (
        decode_image_pixels,
        encode_noise_image,
        perturb_image,
        phash64,
    )

    rows = entrymod.mm_phash_pairs(spark, "/root/testdata/sf0.001").collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in rows}
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id").collect()
    planted = {
        (r["doc_id"], r["doc_id"] + 100000)
        for r in docs
        if r["doc_id"] % 5 == 0
    }
    assert planted <= set(pairs), planted - set(pairs)
    assert all(h <= 7 for h in pairs.values())

    # independent numpy reference for the hash itself (integer spec:
    # channel-sum gray, fixed-point DCT basis, twice-the-median compare)
    p = encode_noise_image(42)
    img = decode_image_pixels(p).astype(np.int64).sum(axis=2)
    n = 32
    i_ = np.arange(n)
    basis = np.round(
        np.cos(np.pi * (2 * i_[None, :] + 1) * np.arange(8)[:, None] / (2 * n))
        * (1 << 14)
    ).astype(np.int64)
    block = (basis @ img @ basis.T).ravel()
    srt = np.sort(block)
    med2 = int(srt[31]) + int(srt[32])
    want = 0
    for i, c in enumerate(block):
        if 2 * int(c) > med2:
            want |= 1 << i
    if want >= 1 << 63:
        want -= 1 << 64
    assert phash64(p) == want

    # near-dup close, independent images far
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")
    assert ham(phash64(p), phash64(perturb_image(p))) <= 7
    assert ham(phash64(p), phash64(encode_noise_image(43))) > 10
