"""From-spec grayscale baseline JPEG codec (ITU-T T.81): encoder + decoder.

The reference has no image pipeline at all (beyond-parity capability);
the tests pin the codec's own contracts: marker layout, exactness on
flat even-valued frames, PSNR floors on real content, ValueError on
every out-of-scope variant, and the Spark decode path."""

import numpy as np
import pytest

from cassandra_fs_pp_spark.jpeg import decode_jpeg, encode_jpeg


def _psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = ((a.astype(np.float64) - b.astype(np.float64)) ** 2).mean()
    return 10 * np.log10(255**2 / max(mse, 1e-12))


def test_marker_layout():
    jpg = encode_jpeg(np.zeros((8, 8), dtype=np.uint8))
    assert jpg[:2] == b"\xff\xd8" and jpg[-2:] == b"\xff\xd9"
    assert b"\xff\xdb" in jpg and b"\xff\xc0" in jpg  # DQT, SOF0
    assert b"\xff\xc4" in jpg and b"\xff\xda" in jpg  # DHT, SOS


def test_flat_even_gray_is_exact():
    # DC = 8*(v-128) is a multiple of the q50 DC quantum 16 when v is even
    for v in (0, 2, 120, 254):
        img = np.full((24, 32), v, dtype=np.uint8)
        assert (decode_jpeg(encode_jpeg(img)) == img).all()


def test_gray_gradient_psnr():
    x = np.linspace(0, 255, 64)
    img = np.clip(np.add.outer(x, x) / 2, 0, 255).astype(np.uint8)
    assert _psnr(img, decode_jpeg(encode_jpeg(img))) > 45


def test_non_multiple_of_8_dims_preserved():
    img = np.clip(
        np.add.outer(np.linspace(0, 255, 37), np.linspace(0, 255, 53)) / 2, 0, 255
    ).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(img))
    assert dec.shape == img.shape
    assert _psnr(img, dec) > 40


def test_reject_garbage():
    with pytest.raises(ValueError):
        decode_jpeg(b"\x00\x01\x02")


def test_decode_real_image_dispatches_jpeg():
    from cassandra_fs_pp_spark.functions.multimodal import decode_real_image

    img = np.full((16, 16), 100, dtype=np.uint8)
    out = decode_real_image(encode_jpeg(img))
    assert (out == img).all()


def test_spark_jpeg_roundtrip_query(spark):
    import __spark_entry__ as entry

    df = entry.mm_jpeg_roundtrip(spark, "/root/testdata/sf0.001")
    rows = df.limit(50).collect()
    assert rows
    for r in rows:
        v = 2 * (r["doc_id"] % 128)
        assert r["mean_px"] == float(v)
        assert r["min_px"] == v and r["max_px"] == v
        assert r["h"] == 8 * (1 + r["doc_id"] % 3) and r["w"] == 16


def test_hw1_is_gray_and_colour_input_rejected():
    hw1 = np.full((16, 16, 1), 100, dtype=np.uint8)
    dec = decode_jpeg(encode_jpeg(hw1))
    assert dec.shape == (16, 16) and (dec == 100).all()
    for c in (3, 4):
        with pytest.raises(ValueError):
            encode_jpeg(np.full((16, 16, c), 100, dtype=np.uint8))


def _variant(name: str) -> bytes:
    """A 16x16 encode_jpeg stream turned into an out-of-scope variant by
    editing its SOF0 segment (marker, precision or component count) or by
    inserting a restart interval."""
    jpg = encode_jpeg(np.full((16, 16), 100, dtype=np.uint8))
    if name == "restart":
        sos = jpg.index(b"\xff\xda")
        return jpg[:sos] + b"\xff\xdd\x00\x04\x00\x01" + jpg[sos:]
    offset, value = {
        "progressive": (1, 0xC2),
        "arithmetic": (1, 0xC9),
        "12-bit": (4, 12),
        "3-component": (9, 3),
    }[name]
    b = bytearray(jpg)
    b[jpg.index(b"\xff\xc0") + offset] = value
    return bytes(b)


@pytest.mark.parametrize(
    "name", ["progressive", "arithmetic", "12-bit", "3-component", "restart"]
)
def test_out_of_scope_variants_raise_value_error(name):
    """Variants outside the grayscale baseline scope fail with the same
    ValueError as corrupt input."""
    with pytest.raises(ValueError):
        decode_jpeg(_variant(name))


def test_progressive_through_dispatcher():
    """A progressive (SOF2) stream reaches decode_jpeg through the image
    dispatcher and fails there with ValueError naming its frame type; the
    baseline stream it was made from decodes."""
    from cassandra_fs_pp_spark.functions.multimodal import decode_real_image

    img = np.full((16, 16), 100, dtype=np.uint8)
    assert (decode_real_image(encode_jpeg(img)) == img).all()
    with pytest.raises(ValueError, match="SOF 0xc2"):
        decode_real_image(_variant("progressive"))


def test_truncated_and_corrupt_input_raise_value_error_only():
    """Any corrupt/truncated payload fails with ValueError (or decodes to
    wrong-but-valid pixels — that's lossy entropy data), never a leaked
    struct.error/IndexError/KeyError."""
    x = np.linspace(0, 255, 32)
    jpg = encode_jpeg(np.clip(np.add.outer(x, x) / 2, 0, 255).astype(np.uint8))
    rng = np.random.default_rng(3)
    for cut in range(2, len(jpg), 5):
        try:
            decode_jpeg(jpg[:cut])
        except ValueError:
            pass
    for _ in range(200):
        b = bytearray(jpg)
        b[int(rng.integers(2, len(b)))] = int(rng.integers(0, 256))
        try:
            decode_jpeg(bytes(b))
        except ValueError:
            pass


def test_pillow_interop_both_directions():
    """Cross-check the from-spec codec against an independent
    implementation (Pillow/libjpeg) when available: our encoder's output
    must decode in Pillow to ~the same pixels, and a Pillow-encoded
    grayscale baseline JPEG at the same quality must decode in our
    decoder.  Skipped where Pillow is absent.
    """
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(48, 64), dtype=np.uint8)
    # smooth it so quality-50 quantization error stays small
    img = (img.astype(np.float64) * 0.1 + 128).astype(np.uint8)

    # ours -> Pillow
    theirs = np.asarray(Image.open(io.BytesIO(encode_jpeg(img))).convert("L"))
    assert theirs.shape == img.shape
    assert float(np.abs(theirs.astype(int) - img.astype(int)).mean()) < 4.0

    # Pillow -> ours
    buf = io.BytesIO()
    Image.fromarray(img).save(buf, format="JPEG", quality=50)
    ours = decode_jpeg(buf.getvalue())
    assert ours.shape == img.shape
    assert float(np.abs(ours.astype(int) - img.astype(int)).mean()) < 4.0
