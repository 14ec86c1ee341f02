"""WebP payloads at the image dispatcher.

The engine writes no WebP, so it carries no WebP decoder: every RIFF/WEBP
container (lossless VP8L, lossy VP8, extended VP8X) and a RIFF of another
form fail in ``decode_real_image`` with the ValueError corrupt input gets."""

import struct

import pytest

from cassandra_fs_pp_spark.functions.multimodal import decode_real_image


def _riff(form: bytes, fourcc: bytes, body: bytes) -> bytes:
    chunk = fourcc + struct.pack("<I", len(body)) + body
    if len(body) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + form + chunk


def test_dispatcher_and_unsupported():
    # VP8L: signature 0x2f, then 14-bit (w-1), 14-bit (h-1), alpha, version
    vp8l = b"\x2f" + struct.pack("<I", (4 - 1) | (4 - 1) << 14) + b"\x00" * 6
    # VP8: 3-byte frame tag, start code, 14-bit w and h
    vp8 = b"\x10\x02\x00\x9d\x01\x2a" + struct.pack("<HH", 4, 4) + b"\x00" * 8
    # VP8X: flags (animation bit set), 24-bit (w-1) and (h-1)
    vp8x = b"\x02\x00\x00\x00" + b"\x03\x00\x00" + b"\x03\x00\x00"
    payloads = [
        _riff(b"WEBP", b"VP8L", vp8l),
        _riff(b"WEBP", b"VP8 ", vp8),
        _riff(b"WEBP", b"VP8X", vp8x),
        b"RIFF\x04\x00\x00\x00WAVE",
    ]
    for payload in payloads:
        with pytest.raises(ValueError, match="unsupported image format"):
            decode_real_image(payload)
