"""Minimal pure-python NetCDF-3 (classic) writer + reader.

The reference exports Level-2 products as NetCDF via xarray
(``bin/fs_process_l2.py:177-204``) with CF-style attrs and the encoding
``dtype=int32, scale_factor=0.001, _FillValue=-9999`` (``:196-200``).
The engine needs neither xarray nor netCDF4: the K3 sink writes the classic
format directly from its public on-disk specification (the NetCDF
Classic Format Spec published by Unidata): a self-contained binary
header (dims, attrs, vars) followed by fixed-size data slabs, with
``time`` as the unlimited record dimension exactly like the reference's
``unlimited_dims=['time']``.

Scope: what the K3 contract needs — NC_CHAR/NC_INT/NC_FLOAT/NC_DOUBLE,
one optional record dimension, global + per-variable attributes. The
reader (CDF-1 and CDF-2) is the engine's one NetCDF reader: the S11
scans in ``sources/netcdf.py`` and the round-trip tests use it. Files
also open in any standard NetCDF tool.
"""

from __future__ import annotations

import struct
from collections.abc import Mapping, Sequence
from dataclasses import dataclass, field

import numpy as np

NC_BYTE, NC_CHAR, NC_SHORT, NC_INT, NC_FLOAT, NC_DOUBLE = 1, 2, 3, 4, 5, 6
_NC_DIMENSION = 0x0A
_NC_VARIABLE = 0x0B
_NC_ATTRIBUTE = 0x0C

_TYPE_SIZE = {NC_BYTE: 1, NC_CHAR: 1, NC_SHORT: 2, NC_INT: 4, NC_FLOAT: 4, NC_DOUBLE: 8}
_TYPE_NP = {
    NC_BYTE: ">i1",
    NC_CHAR: "S1",
    NC_SHORT: ">i2",
    NC_INT: ">i4",
    NC_FLOAT: ">f4",
    NC_DOUBLE: ">f8",
}
_NP_TYPE = {
    "int8": NC_BYTE,
    "int16": NC_SHORT,
    "int32": NC_INT,
    "float32": NC_FLOAT,
    "float64": NC_DOUBLE,
    "|S1": NC_CHAR,
}


def _pad4(n: int) -> int:
    return (4 - n % 4) % 4


def _pack_name(out: bytearray, name: str) -> None:
    b = name.encode()
    out += struct.pack(">i", len(b)) + b + b"\x00" * _pad4(len(b))


def _pack_attr_values(out: bytearray, value) -> None:
    """Encode one attribute as (nc_type, nelems, values)."""
    if isinstance(value, str):
        b = value.encode()
        out += struct.pack(">ii", NC_CHAR, len(b)) + b + b"\x00" * _pad4(len(b))
        return
    arr = np.atleast_1d(np.asarray(value))
    if arr.dtype.kind in "iu":
        arr = arr.astype(">i4")
        nc_type = NC_INT
    else:
        arr = arr.astype(">f8")
        nc_type = NC_DOUBLE
    raw = arr.tobytes()
    out += struct.pack(">ii", nc_type, len(arr)) + raw + b"\x00" * _pad4(len(raw))


def _pack_att_list(out: bytearray, attrs: Mapping[str, object]) -> None:
    if not attrs:
        out += struct.pack(">ii", 0, 0)  # ABSENT
        return
    out += struct.pack(">ii", _NC_ATTRIBUTE, len(attrs))
    for name, value in attrs.items():
        _pack_name(out, name)
        _pack_attr_values(out, value)


@dataclass
class Nc3Variable:
    name: str
    dims: tuple[str, ...]
    data: np.ndarray
    attrs: dict[str, object] = field(default_factory=dict)


def write_netcdf3(
    path: str,
    dims: Mapping[str, int | None],
    variables: Sequence[Nc3Variable],
    global_attrs: Mapping[str, object] | None = None,
    version: int = 1,
) -> None:
    """Write a classic-format NetCDF file (CDF-1, or CDF-2 with
    ``version=2`` — the "64-bit offset" variant whose only on-disk
    difference is an 8-byte per-variable ``begin`` field).

    ``dims`` maps name -> size, with ``None`` marking the single
    unlimited (record) dimension; a variable whose FIRST dim is the
    record dim is stored as record data (interleaved per-record slabs,
    the classic layout), everything else as contiguous fixed data.
    """
    if version not in (1, 2):
        raise ValueError(f"version must be 1 (CDF-1) or 2 (CDF-2), got {version}")
    begin_fmt = ">q" if version == 2 else ">i"
    begin_len = 8 if version == 2 else 4
    dim_names = list(dims)
    dim_ids = {n: i for i, n in enumerate(dim_names)}
    record_dim = next((n for n, s in dims.items() if s is None), None)

    numrecs = 0
    for v in variables:
        if record_dim is not None and v.dims[:1] == (record_dim,):
            numrecs = max(numrecs, int(v.data.shape[0]))

    def dim_size(n: str) -> int:
        return numrecs if dims[n] is None else int(dims[n])

    # --- validate + canonicalize payloads (big-endian on disk) ---
    canon: list[tuple[Nc3Variable, int, np.ndarray]] = []
    for v in variables:
        shape = tuple(dim_size(d) for d in v.dims)
        arr = np.ascontiguousarray(v.data)
        if arr.shape != shape:
            raise ValueError(f"{v.name}: data shape {arr.shape} != dims {shape}")
        nc_type = _NP_TYPE.get(str(arr.dtype))
        if nc_type is None:
            raise TypeError(f"{v.name}: unsupported dtype {arr.dtype}")
        canon.append((v, nc_type, arr.astype(_TYPE_NP[nc_type])))

    # --- header ---
    out = bytearray(b"CDF" + bytes([version]))
    out += struct.pack(">i", numrecs)
    if dim_names:
        out += struct.pack(">ii", _NC_DIMENSION, len(dim_names))
        for n in dim_names:
            _pack_name(out, n)
            out += struct.pack(">i", 0 if dims[n] is None else int(dims[n]))
    else:
        out += struct.pack(">ii", 0, 0)
    _pack_att_list(out, dict(global_attrs or {}))

    # Variable metadata; 'begin' offsets are backfilled after sizing.
    # Spec special case (Unidata classic-format spec, "Note on vsize"):
    # when there is EXACTLY ONE record variable and its type is byte,
    # char, or short, its per-record slab is NOT padded to 4 bytes.
    rec_flags = [
        record_dim is not None and v.dims[:1] == (record_dim,) for v, _, _ in canon
    ]
    n_rec_vars = sum(rec_flags)
    begin_slots: list[int] = []
    vsizes: list[int] = []
    is_record: list[bool] = []
    if canon:
        out += struct.pack(">ii", _NC_VARIABLE, len(canon))
        for (v, nc_type, arr), rec in zip(canon, rec_flags):
            _pack_name(out, v.name)
            out += struct.pack(">i", len(v.dims))
            for d in v.dims:
                out += struct.pack(">i", dim_ids[d])
            _pack_att_list(out, v.attrs)
            per_rec_elems = int(np.prod([dim_size(d) for d in v.dims[1:]], dtype=np.int64)) if rec else arr.size
            nbytes = per_rec_elems * _TYPE_SIZE[nc_type]
            unpadded = rec and n_rec_vars == 1 and nc_type in (NC_BYTE, NC_CHAR, NC_SHORT)
            vsize = nbytes if unpadded else nbytes + _pad4(nbytes)
            out += struct.pack(">ii", nc_type, vsize)
            begin_slots.append(len(out))
            out += struct.pack(begin_fmt, 0)  # begin placeholder (32/64-bit)
            vsizes.append(vsize)
            is_record.append(rec)
    else:
        out += struct.pack(">ii", 0, 0)

    # --- lay out data: fixed vars first, then the record section ---
    offset = len(out)
    begins = [0] * len(canon)
    for i, rec in enumerate(is_record):
        if not rec:
            begins[i] = offset
            offset += vsizes[i]
    rec_start = offset
    for i, rec in enumerate(is_record):
        if rec:
            begins[i] = offset
            offset += vsizes[i]
    for slot, begin in zip(begin_slots, begins):
        out[slot : slot + begin_len] = struct.pack(begin_fmt, begin)

    # --- data section ---
    body = bytearray()
    for (v, nc_type, arr), rec, vsize in zip(canon, is_record, vsizes):
        if not rec:
            raw = arr.tobytes()
            body += raw + b"\x00" * (vsize - len(raw))
    recsize = sum(vs for vs, rec in zip(vsizes, is_record) if rec)
    if recsize:
        rec_block = bytearray(recsize * numrecs)
        cursor = 0
        for (v, nc_type, arr), rec, vsize in zip(canon, is_record, vsizes):
            if not rec:
                continue
            per_rec = vsize
            # Index rows of a 2-D view: arr[r] on a 1-D array returns a
            # numpy SCALAR whose .tobytes() silently reverts to native
            # (little-endian) order; a row view keeps the on-disk >-order.
            rows2d = arr.reshape(numrecs, -1) if numrecs else arr
            for r in range(numrecs):
                chunk = rows2d[r].tobytes()
                start = r * recsize + cursor
                rec_block[start : start + len(chunk)] = chunk
            cursor += per_rec
        body += rec_block
    assert len(out) == rec_start - sum(vs for vs, rec in zip(vsizes, is_record) if not rec)
    with open(path, "wb") as f:
        f.write(bytes(out) + bytes(body))


def _read_name(buf: memoryview, pos: int) -> tuple[str, int]:
    (n,) = struct.unpack_from(">i", buf, pos)
    pos += 4
    name = bytes(buf[pos : pos + n]).decode()
    return name, pos + n + _pad4(n)


def _read_att_list(buf: memoryview, pos: int) -> tuple[dict[str, object], int]:
    tag, count = struct.unpack_from(">ii", buf, pos)
    pos += 8
    attrs: dict[str, object] = {}
    if tag == 0:
        return attrs, pos
    for _ in range(count):
        name, pos = _read_name(buf, pos)
        nc_type, nelems = struct.unpack_from(">ii", buf, pos)
        pos += 8
        nbytes = nelems * _TYPE_SIZE[nc_type]
        raw = bytes(buf[pos : pos + nbytes])
        pos += nbytes + _pad4(nbytes)
        if nc_type == NC_CHAR:
            attrs[name] = raw.decode()
        else:
            vals = np.frombuffer(raw, dtype=_TYPE_NP[nc_type])
            attrs[name] = vals[0].item() if nelems == 1 else vals.tolist()
    return attrs, pos


def read_netcdf3(path: str) -> tuple[dict[str, int | None], dict[str, object], list[Nc3Variable]]:
    """Read back a classic NetCDF file (fixed + record variables).

    Corrupt/truncated files raise ``ValueError`` (struct underflows and
    out-of-range reads are normalized to the one exception type).

    Returns ``(dims, global_attrs, variables)`` with dims mapping the
    record dimension to ``None`` (its realized length is the first axis
    of any record variable), mirroring :func:`write_netcdf3`'s input.
    """
    with open(path, "rb") as f:
        raw = f.read()
    try:
        return _read_netcdf3(raw)
    except (struct.error, IndexError, KeyError) as e:
        raise ValueError(f"corrupt NetCDF-3 file: {type(e).__name__}: {e}") from e


def _read_netcdf3(raw: bytes):
    buf = memoryview(raw)
    if bytes(buf[:3]) != b"CDF" or buf[3] not in (1, 2):
        raise ValueError("not a classic NetCDF file")
    version = buf[3]  # 1 = CDF-1 (32-bit begin), 2 = CDF-2 (64-bit begin)
    (numrecs,) = struct.unpack_from(">i", buf, 4)
    pos = 8
    tag, count = struct.unpack_from(">ii", buf, pos)
    pos += 8
    dim_names: list[str] = []
    dim_sizes: list[int] = []
    if tag == _NC_DIMENSION:
        for _ in range(count):
            name, pos = _read_name(buf, pos)
            (size,) = struct.unpack_from(">i", buf, pos)
            pos += 4
            dim_names.append(name)
            dim_sizes.append(size)
    gattrs, pos = _read_att_list(buf, pos)
    tag, count = struct.unpack_from(">ii", buf, pos)
    pos += 8
    out_vars: list[Nc3Variable] = []
    rec_vars: list[tuple[Nc3Variable, int, int, tuple[int, ...]]] = []
    if tag == _NC_VARIABLE:
        for _ in range(count):
            name, pos = _read_name(buf, pos)
            (ndims,) = struct.unpack_from(">i", buf, pos)
            pos += 4
            dids = struct.unpack_from(f">{ndims}i", buf, pos) if ndims else ()
            pos += 4 * ndims
            vattrs, pos = _read_att_list(buf, pos)
            # CDF-2 ("64-bit offset" format) widens ONLY the begin field
            # to 64 bits; nc_type/vsize stay 32-bit in both versions.
            if version == 2:
                nc_type, vsize = struct.unpack_from(">ii", buf, pos)
                (begin,) = struct.unpack_from(">q", buf, pos + 8)
                pos += 16
            else:
                nc_type, vsize, begin = struct.unpack_from(">iii", buf, pos)
                pos += 12
            vdims = tuple(dim_names[i] for i in dids)
            shape = tuple(
                numrecs if dim_sizes[i] == 0 else dim_sizes[i] for i in dids
            )
            var = Nc3Variable(name, vdims, np.empty(0), vattrs)
            if vdims and dim_sizes[dids[0]] == 0:
                rec_vars.append((var, nc_type, begin, shape))
                out_vars.append(var)
            else:
                nbytes = int(np.prod(shape, dtype=np.int64)) * _TYPE_SIZE[nc_type]
                raw = bytes(buf[begin : begin + nbytes])
                var.data = np.frombuffer(raw, dtype=_TYPE_NP[nc_type]).reshape(shape).copy()
                out_vars.append(var)
    recsize = sum(
        int(np.prod(shape[1:], dtype=np.int64)) * _TYPE_SIZE[t] + _pad4(int(np.prod(shape[1:], dtype=np.int64)) * _TYPE_SIZE[t])
        for _, t, _, shape in rec_vars
    )
    if len(rec_vars) == 1 and rec_vars[0][1] in (NC_BYTE, NC_CHAR, NC_SHORT):
        # Mirror the writer's spec special case: a lone byte/char/short
        # record variable is stored with UNPADDED per-record slabs.
        only_shape = rec_vars[0][3]
        recsize = int(np.prod(only_shape[1:], dtype=np.int64)) * _TYPE_SIZE[rec_vars[0][1]]
    for var, nc_type, begin, shape in rec_vars:
        per_rec_elems = int(np.prod(shape[1:], dtype=np.int64))
        per_rec_bytes = per_rec_elems * _TYPE_SIZE[nc_type]
        rows = []
        for r in range(numrecs):
            start = begin + r * recsize
            rows.append(bytes(buf[start : start + per_rec_bytes]))
        flat = np.frombuffer(b"".join(rows), dtype=_TYPE_NP[nc_type])
        var.data = flat.reshape(shape).copy()
    dims_out: dict[str, int | None] = {
        n: (None if s == 0 else s) for n, s in zip(dim_names, dim_sizes)
    }
    return dims_out, gattrs, out_vars
