"""K3 NetCDF export — end-to-end file write + re-read (SURVEY §2.2 K3/K6).

The reference writes L2 products with xarray
(``bin/fs_process_l2.py:177-204``) using encoding int32 / scale_factor
0.001 / _FillValue -9999 (``:196-200``) and ``time`` as the unlimited
dim. These tests exercise the engine's pure-python classic-NetCDF
writer against its reader AND against byte-level format invariants
(magic number, record-dim layout), so the actual ``.nc`` write path is
executed — not just the encode arithmetic.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest

from cassandra_fs_pp_spark.netcdf3 import (
    Nc3Variable,
    read_netcdf3,
    write_netcdf3,
)
from cassandra_fs_pp_spark.sinks import (
    FILL_VALUE,
    SCALE_FACTOR,
    encode_fixed_point,
    to_netcdf,
    to_netcdf_long,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def test_netcdf3_writer_reader_roundtrip(tmp_path):
    """Raw format round-trip: fixed var, 1-D + 2-D record vars, attrs."""
    path = str(tmp_path / "raw.nc")
    depth = np.array([0.05, 0.35, 0.65], dtype="float64")
    temp = np.arange(12, dtype="int32").reshape(4, 3)
    tvals = np.array([0.0, 3600.0, 7200.0, 10800.0], dtype="float64")
    write_netcdf3(
        path,
        {"time": None, "sensor": 3},
        [
            Nc3Variable("time", ("time",), tvals, {"units": "s"}),
            Nc3Variable("depth", ("sensor",), depth, {"positive": "down"}),
            Nc3Variable(
                "temp", ("time", "sensor"), temp,
                {"scale_factor": 0.001, "_FillValue": -9999},
            ),
        ],
        {"site": "FS_TEST", "rev": 2},
    )
    with open(path, "rb") as f:
        assert f.read(4) == b"CDF\x01"  # classic CDF-1 magic
    dims, gattrs, varlist = read_netcdf3(path)
    assert dims == {"time": None, "sensor": 3}
    assert gattrs["site"] == "FS_TEST" and gattrs["rev"] == 2
    v = {x.name: x for x in varlist}
    assert v["time"].dims == ("time",) and v["time"].data.shape == (4,)
    np.testing.assert_array_equal(v["time"].data, tvals)
    np.testing.assert_array_equal(v["depth"].data, depth)
    assert v["depth"].attrs["positive"] == "down"
    assert v["temp"].dims == ("time", "sensor")
    assert v["temp"].data.dtype == np.dtype(">i4") or v["temp"].data.dtype == np.dtype("int32")
    np.testing.assert_array_equal(v["temp"].data.astype("int32"), temp)
    assert v["temp"].attrs["_FillValue"] == -9999
    assert v["temp"].attrs["scale_factor"] == 0.001


def test_netcdf3_cdf2_roundtrip(tmp_path):
    """CDF-2 ("64-bit offset") variant: magic byte 2, 8-byte begin fields.

    Guards the reader's version branch — a CDF-2 file parsed with 32-bit
    begin offsets would misalign every data slab (ADVICE r2: netcdf3.py
    accepted version byte 2 but always unpacked '>iii')."""
    path = str(tmp_path / "v2.nc")
    depth = np.array([0.05, 0.35, 0.65], dtype="float64")
    temp = np.arange(12, dtype="int32").reshape(4, 3)
    tvals = np.array([0.0, 3600.0, 7200.0, 10800.0], dtype="float64")
    write_netcdf3(
        path,
        {"time": None, "sensor": 3},
        [
            Nc3Variable("time", ("time",), tvals, {"units": "s"}),
            Nc3Variable("depth", ("sensor",), depth),
            Nc3Variable("temp", ("time", "sensor"), temp),
        ],
        {"site": "FS_TEST"},
        version=2,
    )
    with open(path, "rb") as f:
        assert f.read(4) == b"CDF\x02"
    dims, gattrs, varlist = read_netcdf3(path)
    assert dims == {"time": None, "sensor": 3}
    v = {x.name: x for x in varlist}
    np.testing.assert_array_equal(v["time"].data, tvals)
    np.testing.assert_array_equal(v["depth"].data, depth)
    np.testing.assert_array_equal(v["temp"].data.astype("int32"), temp)


def test_netcdf3_single_short_record_var_unpadded(tmp_path):
    """Spec special case: a LONE byte/char/short record variable is laid
    out with unpadded per-record slabs (Unidata classic spec, vsize note).

    With one int16 record var over a 3-wide dim, each record is 6 bytes;
    padded layout would burn 8 bytes/record and external readers (which
    honor the spec) would read garbage from record 1 onward."""
    path = str(tmp_path / "short.nc")
    vals = np.arange(12, dtype="int16").reshape(4, 3)
    write_netcdf3(
        path,
        {"time": None, "sensor": 3},
        [Nc3Variable("v", ("time", "sensor"), vals)],
    )
    import os as _os

    # header + 4 records x 6 bytes, no per-record padding: file must be
    # exactly begin + 24 bytes (the padded layout would be begin + 32).
    import struct as _struct

    with open(path, "rb") as f:
        raw = f.read()
    # vsize field of the only variable must be the unpadded 6.
    # (find it by scanning: last 12 bytes of var metadata are type,vsize,begin)
    dims, _, varlist = read_netcdf3(path)
    np.testing.assert_array_equal(varlist[0].data.astype("int16"), vals)
    begin = len(raw) - 4 * 6  # 4 records x 6 bytes each, unpadded
    tail = raw[begin:]
    expect = vals.astype(">i2").tobytes()
    assert tail == expect, "record slabs must be contiguous/unpadded"
    # mixed case: ADD a second record var -> padding returns
    path2 = str(tmp_path / "short2.nc")
    write_netcdf3(
        path2,
        {"time": None, "sensor": 3},
        [
            Nc3Variable("v", ("time", "sensor"), vals),
            Nc3Variable("t", ("time",), np.arange(4, dtype="float64")),
        ],
    )
    _, _, varlist2 = read_netcdf3(path2)
    v2 = {x.name: x for x in varlist2}
    np.testing.assert_array_equal(v2["v"].data.astype("int16"), vals)
    np.testing.assert_array_equal(v2["t"].data, np.arange(4, dtype="float64"))


def test_to_netcdf_end_to_end(spark, tmp_path):
    """Spark L2-shaped frame -> real .nc on disk -> re-read: dims, attrs,
    int32/0.001/-9999 encoding, and value fidelity to half a scale step."""
    rows = [
        (T0 + i * dt.timedelta(hours=1),
         None if i == 3 else -19.0 + i * 0.125,
         1.76 + i * 0.001,
         i)
        for i in range(6)
    ]
    df = spark.createDataFrame(
        rows, "time timestamp, t107 double, tcdt double, q int"
    )
    path = str(tmp_path / "l2.nc")
    to_netcdf(
        df,
        path,
        global_attrs={"site": "FS1", "latitude": 66.18},
        var_attrs={"t107": {"units": "degC", "standard_name": "soil_temperature"}},
    )
    dims, gattrs, varlist = read_netcdf3(path)
    v = {x.name: x for x in varlist}

    assert dims["time"] is None  # unlimited record dim, like the reference
    assert gattrs["site"] == "FS1"
    assert gattrs["latitude"] == pytest.approx(66.18)
    assert gattrs["institution"] == "cassandra_fs_pp_spark"

    assert v["time"].attrs["units"].startswith("seconds since 1970-01-01")
    t_expected = np.array(
        [(T0 + i * dt.timedelta(hours=1)).timestamp() for i in range(6)]
    )
    np.testing.assert_allclose(v["time"].data.astype("float64"), t_expected)

    for c in ("t107", "tcdt"):
        assert v[c].data.astype("int32").dtype == np.dtype("int32")
        assert v[c].attrs["scale_factor"] == SCALE_FACTOR
        assert v[c].attrs["_FillValue"] == FILL_VALUE
    assert v["t107"].attrs["units"] == "degC"

    enc = v["t107"].data.astype("int32")
    assert enc[3] == FILL_VALUE  # null -> fill sentinel
    dec = enc.astype("float64") * SCALE_FACTOR
    orig = np.array([-19.0 + i * 0.125 for i in range(6)])
    mask = np.arange(6) != 3
    np.testing.assert_allclose(dec[mask], orig[mask], atol=SCALE_FACTOR / 2)

    # int column passes through un-scaled
    np.testing.assert_array_equal(
        v["q"].data.astype("int32"), np.arange(6, dtype="int32")
    )


def test_to_netcdf_matches_encode_fixed_point(spark, tmp_path):
    """The bytes on disk carry EXACTLY encode_fixed_point's arithmetic
    (same half-even rounding), so the .nc and parquet export paths agree."""
    vals = [0.0005, 0.0015, 1.2345, -2.7185, None, 42.0]
    rows = [(T0 + i * dt.timedelta(hours=1), vals[i]) for i in range(6)]
    df = spark.createDataFrame(rows, "time timestamp, x double")
    path = str(tmp_path / "enc.nc")
    to_netcdf(df, path)
    _, _, varlist = read_netcdf3(path)
    nc_ints = {x.name: x for x in varlist}["x"].data.astype("int32").tolist()
    spark_ints = [
        r["x"]
        for r in encode_fixed_point(df.select("x")).collect()
    ]
    assert sorted(nc_ints) == sorted(spark_ints)


def test_to_netcdf_long_2d_chain(spark, tmp_path):
    """Long (time, sensor, value) rows -> 2-D time x sensor record var
    with a per-sensor install-depth coordinate (reference
    ``bin/fs_process_l2.py:80-95`` subsurf DataArray shape)."""
    sensors = ["DTC1_1", "DTC1_2", "DTC1_3"]
    rows = [
        (T0 + i * dt.timedelta(hours=1), s, -10.0 - i - j * 0.5)
        for i in range(4)
        for j, s in enumerate(sensors)
    ]
    df = spark.createDataFrame(rows, "time timestamp, sensor_id string, value double")
    path = str(tmp_path / "chain.nc")
    to_netcdf_long(
        df,
        path,
        var_name="dtc_temp",
        sensor_coords={"install_depth": {"DTC1_1": -0.17, "DTC1_2": -0.32, "DTC1_3": -0.47}},
        var_attrs={"units": "degC"},
    )
    dims, _, varlist = read_netcdf3(path)
    v = {x.name: x for x in varlist}
    assert dims["sensor"] == 3 and dims["time"] is None
    assert v["dtc_temp"].dims == ("time", "sensor")
    assert v["dtc_temp"].data.shape == (4, 3)
    np.testing.assert_allclose(
        v["install_depth"].data.astype("float64"), [-0.17, -0.32, -0.47]
    )
    # decode cell (2, DTC1_2): -10 - 2 - 0.5 = -12.5
    got = v["dtc_temp"].data.astype("int32")[2, 1] * SCALE_FACTOR
    assert got == pytest.approx(-12.5, abs=SCALE_FACTOR / 2)
    names = [
        b"".join(row).decode().rstrip("\x00")
        for row in v["sensor_name"].data
    ]
    assert names == sensors


def test_s11_netcdf_scan_roundtrip(spark, tmp_path):
    """S11 — write an L2-shaped .nc, scan it back as a DataFrame: packed
    int32 vars unpack to doubles (scale 0.001), fills -> null, timestamps
    decode from the CF epoch units (reference plot_L2.py reads L2 .nc)."""
    from cassandra_fs_pp_spark.sources.netcdf import load_netcdf

    rows = [
        (T0 + i * dt.timedelta(hours=1),
         None if i == 2 else -15.0 + i * 0.25,
         i)
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, "time timestamp, t107 double, q int")
    path = str(tmp_path / "scan.nc")
    to_netcdf(df, path, global_attrs={"site": "FS1"})

    back = load_netcdf(spark, path)
    assert dict(back.dtypes) == {"time": "timestamp", "t107": "double", "q": "bigint"}
    got = {r["time"]: r for r in back.collect()}
    assert len(got) == 5
    for i in range(5):
        t = T0 + i * dt.timedelta(hours=1)
        if i == 2:
            assert got[t]["t107"] is None
        else:
            assert got[t]["t107"] == pytest.approx(-15.0 + i * 0.25, abs=SCALE_FACTOR / 2)
        assert got[t]["q"] == i


# --------------------------------------------------------------------------- #
# property-based: arbitrary shapes/dtypes/attrs round-trip the raw format
# --------------------------------------------------------------------------- #

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=25, deadline=None)
@given(
    n_rec=st.integers(min_value=1, max_value=9),
    n_fix=st.integers(min_value=1, max_value=5),
    dtype=st.sampled_from(["int32", "float64", "float32", "int16"]),
    wide=st.integers(min_value=1, max_value=4),
    attr_val=st.one_of(
        st.integers(min_value=-(2**31), max_value=2**31 - 1),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            max_size=12,
        ),
    ),
)
def test_netcdf3_property_roundtrip(tmp_path_factory, n_rec, n_fix, dtype, wide, attr_val):
    import numpy as np

    path = str(tmp_path_factory.mktemp("nc") / "p.nc")
    rng = np.random.RandomState(n_rec * 31 + n_fix)
    rec = (rng.randint(-1000, 1000, size=(n_rec, wide))).astype(dtype)
    fix = (rng.randint(-1000, 1000, size=(n_fix,))).astype("float64")
    write_netcdf3(
        path,
        {"t": None, "s": wide, "f": n_fix},
        [
            Nc3Variable("t", ("t",), np.arange(n_rec, dtype="float64")),
            Nc3Variable("v", ("t", "s"), rec, {"a": attr_val}),
            Nc3Variable("g", ("f",), fix),
        ],
        {"ga": attr_val},
    )
    dims, gattrs, varlist = read_netcdf3(path)
    v = {x.name: x for x in varlist}
    assert dims == {"t": None, "s": wide, "f": n_fix}
    np.testing.assert_array_equal(
        v["v"].data.astype(dtype), rec
    )
    np.testing.assert_array_equal(v["g"].data.astype("float64"), fix)
    got = gattrs["ga"]
    if isinstance(attr_val, float):
        assert got == attr_val
    elif isinstance(attr_val, int):
        assert got == attr_val
    else:
        assert got == attr_val


def test_netcdf_long_roundtrip(spark, tmp_path):
    """to_netcdf_long -> load_netcdf_long round-trips the long chain
    layout (time, sensor_id, value) through a real 2-D .nc file."""
    from cassandra_fs_pp_spark.sources.netcdf import load_netcdf_long

    sensors = ["DTC1_1", "DTC1_2"]
    rows = [
        (T0 + i * dt.timedelta(hours=1), s, None if (i, j) == (1, 0) else -5.0 - i - j)
        for i in range(3)
        for j, s in enumerate(sensors)
    ]
    df = spark.createDataFrame(rows, "time timestamp, sensor_id string, value double")
    path = str(tmp_path / "long.nc")
    to_netcdf_long(df, path, var_name="dtc")

    back = load_netcdf_long(spark, path, var_name="dtc")
    got = {(r["time"], r["sensor_id"]): r["value"] for r in back.collect()}
    assert len(got) == 6
    for t, s, val in rows:
        if val is None:
            assert got[(t, s)] is None
        else:
            assert got[(t, s)] == pytest.approx(val, abs=SCALE_FACTOR / 2)


def test_load_netcdf_cf_unit_spellings(spark, tmp_path):
    """CF epoch units beyond 'seconds/days/hours': minutes and
    milliseconds (and singular spellings) decode to the same instants."""
    from cassandra_fs_pp_spark.sources.netcdf import load_netcdf

    for units, vals, want_h in [
        ("minutes since 2024-01-01 00:00:00", [0.0, 60.0, 120.0], [0, 1, 2]),
        ("milliseconds since 2024-01-01 00:00:00",
         [0.0, 3.6e6, 7.2e6], [0, 1, 2]),
        ("hour since 2024-01-01 00:00:00", [0.0, 1.0, 2.0], [0, 1, 2]),
    ]:
        path = str(tmp_path / f"u_{units.split()[0]}.nc")
        write_netcdf3(
            path,
            {"time": None},
            [
                Nc3Variable("time", ("time",), np.array(vals), {"units": units}),
                Nc3Variable(
                    "v", ("time",), np.array([1.0, 2.0, 3.0])
                ),
            ],
        )
        rows = sorted(load_netcdf(spark, path).collect(), key=lambda r: r["time"])
        base = dt.datetime(2024, 1, 1)
        assert [r["time"] for r in rows] == [
            base + dt.timedelta(hours=h) for h in want_h
        ], units


def test_load_netcdf_add_offset_and_unit_errors(spark, tmp_path):
    """ADVICE r9: CF unpacking applies add_offset (raw*scale+offset,
    _FillValue -> null); an unknown CF time unit
    raises a named ValueError, not a bare KeyError; 'ms'/'usec'
    spellings decode."""
    from cassandra_fs_pp_spark.sources.netcdf import load_netcdf

    path = str(tmp_path / "packed.nc")
    write_netcdf3(
        path,
        {"time": None},
        [
            Nc3Variable(
                "time",
                ("time",),
                np.array([0.0, 1000.0, 2000.0]),
                {"units": "ms since 2024-01-01 00:00:00"},
            ),
            Nc3Variable(
                "t_air",
                ("time",),
                np.array([100, -9999, 300], dtype="int32"),
                {
                    "scale_factor": 0.001,
                    "add_offset": 2.0,
                    "_FillValue": np.int32(-9999),
                },
            ),
        ],
    )
    rows = sorted(load_netcdf(spark, path).collect(), key=lambda r: r["time"])
    base = dt.datetime(2024, 1, 1)
    assert [r["time"] for r in rows] == [
        base + dt.timedelta(seconds=s) for s in (0, 1, 2)
    ]
    assert [r["t_air"] for r in rows] == [
        pytest.approx(2.1),
        None,
        pytest.approx(2.3),
    ]

    bad = str(tmp_path / "bad_unit.nc")
    write_netcdf3(
        bad,
        {"time": None},
        [
            Nc3Variable(
                "time",
                ("time",),
                np.array([0.0]),
                {"units": "fortnights since 2024-01-01 00:00:00"},
            ),
            Nc3Variable("v", ("time",), np.array([1.0])),
        ],
    )
    with pytest.raises(ValueError, match="unsupported CF time unit"):
        load_netcdf(spark, bad).collect()


def test_read_any_error_routing(spark, tmp_path):
    """Only classic NetCDF is read: an empty file, a file of 64 NUL
    bytes and a file with the HDF5 (NETCDF4) signature all raise the
    classic reader's ValueError through ``load_netcdf``."""
    from cassandra_fs_pp_spark.sources.netcdf import load_netcdf

    empty = tmp_path / "empty.nc"
    empty.write_bytes(b"")
    zeros = tmp_path / "zeros.nc"
    zeros.write_bytes(b"\x00" * 64)
    hdf5 = tmp_path / "netcdf4.nc"
    hdf5.write_bytes(b"\x89HDF\r\n\x1a\n" + b"\xff" * 256)
    for path in (empty, zeros, hdf5):
        with pytest.raises(ValueError, match="not a classic NetCDF file"):
            load_netcdf(spark, str(path))
