"""Pure-python grayscale baseline JPEG codec, written from the public
ITU-T T.81 (ISO/IEC 10918-1) specification — no Pillow, no scipy.

Scope: what the engine writes and reads back — baseline sequential DCT,
8-bit, one component (grayscale), Huffman entropy coding, no restart
intervals.
* encoder: fixed at IJG quality 50, i.e. the spec's Annex K luminance
  quantization and Huffman tables (the public example tables), unscaled;
* decoder: any stream of that shape, whatever tables it carries. Every
  other JPEG (progressive, 12-bit, colour, restart markers, arithmetic
  coding, ...) raises ``ValueError``, as corrupt input does.

Used by :mod:`.functions.multimodal` as the decode path for
``image/jpeg`` payloads (the reference has no image pipeline at all —
this is beyond-parity capability for multimodal training-data columns).
Flat 8×8-aligned frames with even sample values round-trip EXACTLY (the
DC coefficient 8·(v−128) is a multiple of the DC quantum 16), which is
what the ``mm_jpeg_roundtrip`` correctness-gate query relies on.
"""

from __future__ import annotations

import struct

import numpy as np

# --------------------------------------------------------------------------
# Spec constants (T.81 Annex K example tables — public)
# --------------------------------------------------------------------------

# zigzag scan: generated, not transcribed (diagonal walk per F.1.1.5)
def _zigzag_order() -> np.ndarray:
    order = []
    r = c = 0
    for _ in range(64):
        order.append(r * 8 + c)
        if (r + c) % 2 == 0:  # moving up-right
            if c == 7:
                r += 1
            elif r == 0:
                c += 1
            else:
                r -= 1
                c += 1
        else:  # moving down-left
            if r == 7:
                c += 1
            elif c == 0:
                r += 1
            else:
                r += 1
                c -= 1
    return np.array(order, dtype=np.int64)


ZIGZAG = _zigzag_order()
UNZIGZAG = np.argsort(ZIGZAG)

# IJG quality 50 is this table unscaled; the encoder writes it as is.
QUANT_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int32,
)

# Annex K Huffman specifications: (BITS[1..16], HUFFVAL)
DC_LUMA_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
DC_LUMA_VALS = tuple(range(12))

AC_LUMA_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125)
AC_LUMA_VALS = tuple(
    int(x, 16)
    for x in (
        "01 02 03 00 04 11 05 12 21 31 41 06 13 51 61 07 22 71 14 32 81 91 a1 "
        "08 23 42 b1 c1 15 52 d1 f0 24 33 62 72 82 09 0a 16 17 18 19 1a 25 26 "
        "27 28 29 2a 34 35 36 37 38 39 3a 43 44 45 46 47 48 49 4a 53 54 55 56 "
        "57 58 59 5a 63 64 65 66 67 68 69 6a 73 74 75 76 77 78 79 7a 83 84 85 "
        "86 87 88 89 8a 92 93 94 95 96 97 98 99 9a a2 a3 a4 a5 a6 a7 a8 a9 aa "
        "b2 b3 b4 b5 b6 b7 b8 b9 ba c2 c3 c4 c5 c6 c7 c8 c9 ca d2 d3 d4 d5 d6 "
        "d7 d8 d9 da e1 e2 e3 e4 e5 e6 e7 e8 e9 ea f1 f2 f3 f4 f5 f6 f7 f8 f9 "
        "fa"
    ).split()
)

# orthonormal 8-point DCT-II basis: F = C @ x @ C.T ; x = C.T @ F @ C
_C = np.zeros((8, 8))
for _k in range(8):
    _s = np.sqrt(1 / 8) if _k == 0 else np.sqrt(2 / 8)
    for _n in range(8):
        _C[_k, _n] = _s * np.cos((2 * _n + 1) * _k * np.pi / 16)


# --------------------------------------------------------------------------
# Canonical Huffman code construction (spec C.2)
# --------------------------------------------------------------------------


def _build_codes(bits, vals) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length).  Canonical assignment: codes of each
    length are consecutive, starting from 2×(next code after the previous
    length)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    vi = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[vi]] = (code, length)
            code += 1
            vi += 1
        code <<= 1
    return out


def _build_decode_map(bits, vals) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, for the decoder's bit-at-a-time walk."""
    return {
        (length, code): sym for sym, (code, length) in _build_codes(bits, vals).items()
    }


# --------------------------------------------------------------------------
# Bit IO
# --------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            b = (self._acc >> (self._n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing (B.1.1.5)
                self.out.append(0x00)
            self._n -= 8
        self._acc &= (1 << self._n) - 1

    def flush(self) -> None:
        if self._n:
            pad = 8 - self._n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec


class _BitReader:
    """Reads entropy-coded bits, handling 0xFF00 stuffing; past the end
    of the scan (a marker or the end of the data) it reads zero bits."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0

    def _fill(self) -> None:
        d = self.data
        while self._n <= 24:
            if self.pos >= len(d):
                self._acc = (self._acc << 8) | 0
                self._n += 8
                continue
            b = d[self.pos]
            if b == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                    self._acc = (self._acc << 8) | 0xFF
                    self._n += 8
                    continue
                # real marker: end of the entropy-coded data, feed zeros
                self._acc = self._acc << 8
                self._n += 8
                continue
            self.pos += 1
            self._acc = (self._acc << 8) | b
            self._n += 8

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        if self._n < n:
            self._fill()
        v = (self._acc >> (self._n - n)) & ((1 << n) - 1)
        self._n -= n
        self._acc &= (1 << self._n) - 1
        return v

    def bit(self) -> int:
        return self.bits(1)

    def huff(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")


def _extend(v: int, s: int) -> int:
    """DC/AC magnitude decode (spec F.2.2.1 EXTEND)."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _magnitude(v: int) -> tuple[int, int]:
    """value -> (category s, s low bits) for encoding."""
    s = int(v).bit_length() if v > 0 else int(-v).bit_length()
    return s, (v if v >= 0 else v + (1 << s) - 1) & ((1 << s) - 1)


# --------------------------------------------------------------------------
# Decoder
# --------------------------------------------------------------------------


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Grayscale baseline JPEG bytes → (h, w) uint8.

    Corrupt or truncated input, and every JPEG variant outside the
    module's scope, raise ``ValueError`` — one exception type for the
    pipeline to catch."""
    try:
        return _decode_jpeg(payload)
    except (struct.error, IndexError, KeyError) as e:
        raise ValueError(f"corrupt JPEG: {type(e).__name__}: {e}") from e


def _decode_jpeg(payload: bytes) -> np.ndarray:
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    frame = None  # (h, w, quant table id)

    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"marker expected at {pos}")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01:  # TEM: no segment
            continue
        (seglen,) = struct.unpack_from(">H", payload, pos)
        seg = payload[pos + 2 : pos + seglen]
        pos += seglen
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                if seg[i] >> 4:
                    raise ValueError("16-bit quantization table in an 8-bit JPEG")
                vals = np.frombuffer(seg[i + 1 : i + 65], dtype=np.uint8)
                qt[seg[i] & 0xF] = vals.astype(np.int32)[UNZIGZAG].reshape(8, 8)
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0xF
                bits = tuple(seg[i + 1 : i + 17])
                n = sum(bits)
                vals = tuple(seg[i + 17 : i + 17 + n])
                (ac_tabs if tc else dc_tabs)[th] = _build_decode_map(bits, vals)
                i += 17 + n
        elif marker == 0xDD:  # DRI
            if struct.unpack_from(">H", seg, 0)[0]:
                raise ValueError("JPEG restart intervals unsupported")
        elif marker == 0xC0:  # SOF0: baseline sequential
            prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8 or nc != 1:
                raise ValueError(
                    f"unsupported JPEG: {prec}-bit, {nc} components "
                    "(8-bit grayscale only)"
                )
            frame = (h, w, seg[8])
        elif 0xC1 <= marker <= 0xCF and marker not in (0xC8, 0xCC):  # JPG, DAC
            raise ValueError(f"unsupported JPEG frame type SOF 0x{marker:02x}")
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            h, w, tq = frame
            t = seg[2]  # the one component's DC/AC table selectors
            return _decode_scan(
                payload, pos, h, w, qt[tq], dc_tabs[t >> 4], ac_tabs[t & 0xF]
            )
        # APPn / COM / others: skip
    raise ValueError("no scan found")


def _decode_scan(data, pos, h, w, q, dct, act) -> np.ndarray:
    bh, bw = -(-h // 8), -(-w // 8)
    plane = np.zeros((bh * 8, bw * 8), dtype=np.float64)
    r = _BitReader(data, pos)
    pred = 0
    for by in range(bh):
        for bx in range(bw):
            block, pred = _decode_block(r, dct, act, pred)
            plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = _C.T @ (block * q) @ _C
    return np.clip(np.rint(plane[:h, :w] + 128), 0, 255).astype(np.uint8)


def _decode_block(r: _BitReader, dct, act, pred: int) -> tuple[np.ndarray, int]:
    zz = np.zeros(64, dtype=np.int32)
    s = r.huff(dct)
    pred += _extend(r.bits(s), s) if s else 0
    zz[0] = pred
    k = 1
    while k < 64:
        rs = r.huff(act)
        rr, size = rs >> 4, rs & 0xF
        if size == 0:
            if rr == 15:  # ZRL
                k += 16
                continue
            break  # EOB
        k += rr
        if k > 63:
            raise ValueError("AC run past end of block")
        zz[k] = _extend(r.bits(size), size)
        k += 1
    return zz[UNZIGZAG].reshape(8, 8).astype(np.float64), pred


# --------------------------------------------------------------------------
# Encoder
# --------------------------------------------------------------------------


def _encode_block(bw, block, dc_codes, ac_codes, pred: int) -> int:
    """Entropy-code one level-shifted 8×8 block; returns the new DC
    predictor. At 8 bits and quality 50 every coefficient stays inside
    the Annex K categories (DC diff <= 11 bits, AC <= 10)."""
    coef = _C @ block @ _C.T
    zz = np.rint(coef / QUANT_LUMA).astype(np.int32).reshape(-1)[ZIGZAG]
    diff = int(zz[0]) - pred
    s, low = _magnitude(diff) if diff else (0, 0)
    code, ln = dc_codes[s]
    bw.write(code, ln)
    if s:
        bw.write(low, s)
    # AC
    run = 0
    last_nz = max(np.nonzero(zz)[0]) if np.any(zz) else 0
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL
            bw.write(code, ln)
            run -= 16
        s, low = _magnitude(v)
        code, ln = ac_codes[(run << 4) | s]
        bw.write(code, ln)
        bw.write(low, s)
        run = 0
    if last_nz < 63:
        code, ln = ac_codes[0x00]  # EOB
        bw.write(code, ln)
    return int(zz[0])


def _segment(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(body)) + body


def encode_jpeg(img: np.ndarray) -> bytes:
    """(h, w) or (h, w, 1) uint8 → grayscale baseline JPEG bytes at IJG
    quality 50 (Annex K luminance tables, unscaled)."""
    if img.dtype != np.uint8:
        raise TypeError("uint8 input required")
    if img.ndim == 3 and img.shape[2] == 1:
        img = img[:, :, 0]
    if img.ndim != 2:
        raise ValueError(
            f"expected (h, w) or (h, w, 1) grayscale input, got shape {img.shape}"
        )
    h, w = img.shape
    out = bytearray(b"\xff\xd8")  # SOI
    out += _segment(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _segment(0xDB, b"\x00" + bytes(QUANT_LUMA.reshape(-1)[ZIGZAG].astype(np.uint8)))
    out += _segment(0xC0, struct.pack(">BHHBBBB", 8, h, w, 1, 1, 0x11, 0))
    for tid, bits, vals in (
        (0x00, DC_LUMA_BITS, DC_LUMA_VALS),
        (0x10, AC_LUMA_BITS, AC_LUMA_VALS),
    ):
        out += _segment(0xC4, bytes([tid]) + bytes(bits) + bytes(vals))
    out += _segment(0xDA, bytes([1, 1, 0x00, 0x00, 0x3F, 0x00]))

    dc = _build_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac = _build_codes(AC_LUMA_BITS, AC_LUMA_VALS)
    bh, bw_ = -(-h // 8), -(-w // 8)
    plane = np.pad(
        img.astype(np.float64) - 128.0,
        ((0, bh * 8 - h), (0, bw_ * 8 - w)),
        mode="edge",
    )
    bw = _BitWriter()
    pred = 0
    for by in range(bh):
        for bx in range(bw_):
            pred = _encode_block(
                bw, plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8], dc, ac, pred
            )
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)
