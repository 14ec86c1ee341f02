"""S11 — NetCDF scan (reference ``bin/plot_L2.py:40`` ``xr.open_dataset``).

Reads a classic NetCDF ``.nc`` file (CDF-1/2, as :func:`sinks.to_netcdf`
writes it) into a time-indexed wide DataFrame, applying the CF unpacking
convention on the way in: ``float = int32 * scale_factor``
with ``_FillValue`` -> null (``bin/fs_process_l2.py:196-200`` encoding,
inverted). Driver-side materialization — an L2 site product is a reduced
per-station artifact (thousands of rows), the engine-canonical bulk
format stays Parquet.
"""

from __future__ import annotations

import datetime as _dt

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from cassandra_fs_pp_spark.netcdf3 import read_netcdf3

# CF epoch-offset units (udunits spellings incl. singular/abbreviated forms)
_CF_UNIT_SECONDS = {
    "microseconds": 1e-6, "microsecond": 1e-6, "usecs": 1e-6, "usec": 1e-6,
    "us": 1e-6,
    "milliseconds": 0.001, "millisecond": 0.001, "msecs": 0.001,
    "msec": 0.001, "ms": 0.001,
    "seconds": 1.0, "second": 1.0, "secs": 1.0, "sec": 1.0, "s": 1.0,
    "minutes": 60.0, "minute": 60.0, "mins": 60.0, "min": 60.0,
    "hours": 3600.0, "hour": 3600.0, "hrs": 3600.0, "hr": 3600.0, "h": 3600.0,
    "days": 86400.0, "day": 86400.0, "d": 86400.0,
}


def load_netcdf(
    spark: SparkSession,
    path: str,
    *,
    time_col: str = "time",
) -> DataFrame:
    """Classic ``.nc`` -> DataFrame ``(time timestamp, <var> double ...)``.

    1-D variables over the record (time) dimension become columns;
    packed int variables with ``scale_factor``/``_FillValue`` attrs are
    unpacked to nullable doubles; the record coordinate (the variable
    named after the record dimension, e.g. ``time``) is decoded from its
    CF ``units`` epoch (``seconds|days since <epoch>``) and returned
    under ``time_col``.
    """
    dims, _gattrs, variables = read_netcdf3(path)
    try:
        record_dim, tvals = _record_times(dims, variables)
    except ValueError as e:
        raise ValueError(f"{path}: {e}") from None

    names: list[str] = [time_col]
    columns: list[list] = [tvals]
    for v in variables:
        if v.name == record_dim or v.dims != (record_dim,):
            continue
        arr = np.asarray(v.data)
        if "scale_factor" in v.attrs or "add_offset" in v.attrs:
            fill = v.attrs.get("_FillValue")
            scale = float(v.attrs.get("scale_factor", 1.0))
            offset = float(v.attrs.get("add_offset", 0.0))
            vals = [
                None
                if (fill is not None and x == type(x)(fill))
                else float(x) * scale + offset
                for x in arr
            ]
            columns.append(vals)
        elif arr.dtype.kind == "f":
            columns.append([float(x) for x in arr.astype("float64")])
        else:
            columns.append([int(x) for x in arr])
        names.append(v.name)

    rows = list(zip(*columns))
    fields = []
    for n, col in zip(names, columns):
        if n == time_col:
            fields.append(f"`{n}` timestamp")
        elif any(isinstance(x, float) or x is None for x in col):
            fields.append(f"`{n}` double")
        else:
            fields.append(f"`{n}` bigint")
    return spark.createDataFrame(rows, ", ".join(fields))


def load_netcdf_long(
    spark: SparkSession,
    path: str,
    *,
    var_name: str,
    time_col: str = "time",
    sensor_col: str = "sensor_id",
    value_col: str = "value",
) -> DataFrame:
    """2-D (time x sensor) chain variable -> long ``(time, sensor_id,
    value)`` rows, the engine's canonical chain layout (inverse of
    :func:`sinks.to_netcdf_long`). Sensor ids come from the
    ``sensor_name`` char matrix when present, else the 0-based index."""
    dims, _gattrs, variables = read_netcdf3(path)
    record_dim, tvals = _record_times(dims, variables)
    v = {x.name: x for x in variables}
    if var_name not in v:
        raise ValueError(f"{path}: no variable {var_name!r}")
    var = v[var_name]
    if len(var.dims) != 2 or var.dims[0] != record_dim:
        raise ValueError(f"{path}: {var_name!r} is not (record, sensor)-shaped")

    n_sensors = var.data.shape[1]
    if "sensor_name" in v:
        sensors = [
            b"".join(row).decode().rstrip("\x00")
            for row in v["sensor_name"].data
        ]
    else:
        sensors = [str(i) for i in range(n_sensors)]

    arr = np.asarray(var.data)
    fill = var.attrs.get("_FillValue")
    packed = "scale_factor" in var.attrs or "add_offset" in var.attrs
    scale = float(var.attrs.get("scale_factor", 1.0))
    offset = float(var.attrs.get("add_offset", 0.0))
    rows = []
    for ti, t in enumerate(tvals):
        for si, s in enumerate(sensors):
            x = arr[ti, si]
            if packed:
                val = (
                    None
                    if (fill is not None and x == type(x)(fill))
                    else float(x) * scale + offset
                )
            else:
                val = float(x)
            rows.append((t, s, val))
    return spark.createDataFrame(
        rows, f"`{time_col}` timestamp, `{sensor_col}` string, `{value_col}` double"
    )


def _record_times(dims, variables) -> tuple[str, list]:
    """(record dim name, decoded CF timestamps of its coordinate).
    TZ-suffixed epochs ('...since 1970-01-01T00:00:00Z') normalize to
    naive UTC so values never mix aware/naive across files."""
    record_dim = next((n for n, s in dims.items() if s is None), None)
    if record_dim is None:
        raise ValueError("no record (time) dimension")
    tvar = next((v for v in variables if v.name == record_dim), None)
    if tvar is None:
        raise ValueError(f"no {record_dim!r} coordinate variable")
    units = str(tvar.attrs.get("units", "seconds since 1970-01-01 00:00:00"))
    unit, _, epoch = units.partition(" since ")
    base = _dt.datetime.fromisoformat(epoch.strip())
    if base.tzinfo is not None:
        base = base.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    try:
        per = _CF_UNIT_SECONDS[unit.strip()]
    except KeyError:
        raise ValueError(
            f"unsupported CF time unit {unit.strip()!r} in units {units!r}"
        ) from None
    tvals = [
        base + _dt.timedelta(seconds=float(x) * per)
        for x in np.asarray(tvar.data, dtype="float64")
    ]
    return record_dim, tvals

