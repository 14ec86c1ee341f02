"""Export sinks (SURVEY §2.2 K1-K3, §2.8 F10).

* :func:`write_csv_single` — the reference's time-indexed wide CSV contract
  (``cassandra_fs_pp/fs_pp.py:154-165``, ``bin/fs_process_l2.py:68``): one
  ordered file. Engine-canonical storage is partitioned Parquet
  (:func:`write_parquet`); the single-CSV shape exists for interop parity.
* :func:`encode_fixed_point` — the NetCDF encoding arithmetic
  (``bin/fs_process_l2.py:196-200``): 3-decimal fixed point as int32 with
  ``_FillValue=-9999``. Pure column expressions, testable without netCDF.
* :func:`to_netcdf` — driver-side classic NetCDF export of a (small,
  final) L2 frame with CF-style attrs through the built-in
  :mod:`cassandra_fs_pp_spark.netcdf3` writer. At 100 TB the canonical
  output is Parquet; NetCDF is a per-site driver-side export of an
  already-reduced product (one station's series fits trivially in driver
  memory).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FILL_VALUE = -9999
SCALE_FACTOR = 0.001


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    partition_by: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    """Engine-canonical sink: partitioned Parquet (partition pruning +
    column pruning + predicate pushdown on re-read)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv_single(
    df: DataFrame, path: str, *, order_by: str = "TIMESTAMP", mode: str = "overwrite"
) -> None:
    """K1/K2 — single ordered CSV (a directory with one part file).

    ``coalesce(1)`` serializes the final write (fine for per-site L1/L2
    interop files); large exports should use :func:`write_parquet`.
    """
    (
        df.orderBy(order_by)
        .coalesce(1)
        .write.mode(mode)
        .option("header", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(path)
    )


def encode_fixed_point(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    *,
    scale: float = SCALE_FACTOR,
    fill: int = FILL_VALUE,
) -> DataFrame:
    """F10 — ``int32 = round(x / scale)``, null -> ``fill``
    (``bin/fs_process_l2.py:196-200``: dtype int32, scale_factor 0.001,
    _FillValue -9999). Applied to every double column by default.

    ``bround`` (half-even), matching numpy/xarray's ``np.around`` in the
    reference's NetCDF encode path — Spark's ``round`` is half-up.
    NaN encodes as ``fill`` exactly like null (matching
    ``netcdf3._encode_series``'s ``np.isnan`` path) — under ANSI mode a
    bare NaN→int cast would otherwise crash the job, and with ANSI off it
    would silently store 0."""
    if cols is None:
        cols = [c for c, d in df.dtypes if d == "double"]
    return df.withColumns(
        {
            c: F.when(
                F.col(c).isNull() | F.isnan(F.col(c)), F.lit(int(fill))
            ).otherwise(F.bround(F.col(c) / F.lit(float(scale))).cast("int"))
            for c in cols
        }
    )


DEFAULT_GLOBAL_ATTRS = {
    "institution": "cassandra_fs_pp_spark",
    "license": "CC-BY-4.0",
}


TIME_UNITS = "seconds since 1970-01-01 00:00:00"


def _encode_series(vals, attrs: dict[str, object], encode: bool):
    """Apply the reference NetCDF encoding to one float column:
    ``int32 = round(x / 0.001)`` half-even, null -> -9999, recording
    ``scale_factor`` / ``_FillValue`` attrs (``bin/fs_process_l2.py:196-200``)
    — the same arithmetic as :func:`encode_fixed_point`."""
    import numpy as np

    if encode:
        enc = np.where(
            np.isnan(vals), float(FILL_VALUE), np.around(vals / SCALE_FACTOR)
        ).astype("int32")
        attrs.setdefault("scale_factor", SCALE_FACTOR)
        attrs.setdefault("_FillValue", FILL_VALUE)
        return enc
    return np.asarray(vals, dtype="float64")


def to_netcdf(
    df: DataFrame,
    path: str,
    *,
    time_col: str = "time",
    global_attrs: Mapping[str, object] | None = None,
    var_attrs: Mapping[str, Mapping[str, object]] | None = None,
    encode: bool = True,
) -> None:
    """K3 — driver-side NetCDF export of a reduced per-site product.

    Collects ``df`` (ordered by time) to pandas and writes a classic
    NetCDF-3 file via the built-in pure-python writer
    (:mod:`cassandra_fs_pp_spark.netcdf3` — no xarray/netCDF4 needed),
    with ``time`` as the unlimited record dimension
    (reference ``bin/fs_process_l2.py:177-204``: ``unlimited_dims=['time']``)
    and the reference encoding int32 / scale_factor 0.001 /
    _FillValue -9999 on every float column (``:196-200``). At 100 TB the
    canonical sink stays Parquet; NetCDF is the per-site interop export
    of an already-reduced product.
    """
    import numpy as np
    import pandas as pd

    from .netcdf3 import Nc3Variable, write_netcdf3

    pdf = df.orderBy(time_col).toPandas()
    var_attrs = dict(var_attrs or {})
    tvals = (
        pd.to_datetime(pdf[time_col]).astype("int64").to_numpy() / 1e9
    ).astype("float64")
    variables = [
        Nc3Variable(
            "time",
            ("time",),
            tvals,
            {
                "units": TIME_UNITS,
                "calendar": "proleptic_gregorian",
                **dict(var_attrs.get("time", {})),
            },
        )
    ]
    for c in pdf.columns:
        if c == time_col:
            continue
        s = pdf[c]
        attrs = dict(var_attrs.get(c, {}))
        if pd.api.types.is_float_dtype(s):
            data = _encode_series(s.to_numpy(dtype="float64"), attrs, encode)
        elif pd.api.types.is_integer_dtype(s) or pd.api.types.is_bool_dtype(s):
            data = s.to_numpy(dtype="int32")
        else:
            raise TypeError(
                f"to_netcdf: column {c!r} has non-numeric dtype {s.dtype}"
            )
        variables.append(Nc3Variable(c, ("time",), data, attrs))
    write_netcdf3(
        path,
        {"time": None},
        variables,
        {**DEFAULT_GLOBAL_ATTRS, **dict(global_attrs or {})},
    )


def to_netcdf_long(
    df: DataFrame,
    path: str,
    *,
    time_col: str = "time",
    sensor_col: str = "sensor_id",
    value_col: str = "value",
    var_name: str = "subsurface",
    sensor_coords: Mapping[str, Mapping[str, float]] | None = None,
    global_attrs: Mapping[str, object] | None = None,
    var_attrs: Mapping[str, object] | None = None,
    encode: bool = True,
) -> None:
    """K3 2-D form — long ``(time, sensor_id, value)`` rows pivoted to a
    ``time x sensor`` record variable, mirroring the reference's
    subsurface DataArray with a per-sensor coordinate carrying install
    depth (``bin/fs_process_l2.py:80-95``). ``sensor_coords`` maps
    coordinate name -> {sensor_id: value} (e.g. install depths) and is
    written as 1-D float variables over the sensor dimension."""
    import numpy as np
    import pandas as pd

    from .netcdf3 import Nc3Variable, write_netcdf3

    pdf = df.select(time_col, sensor_col, value_col).toPandas()
    wide = pdf.pivot_table(
        index=time_col, columns=sensor_col, values=value_col, aggfunc="first"
    ).sort_index()
    sensors = [str(c) for c in wide.columns]
    tvals = (
        pd.to_datetime(wide.index).astype("int64").to_numpy() / 1e9
    ).astype("float64")
    attrs = dict(var_attrs or {})
    data = _encode_series(wide.to_numpy(dtype="float64"), attrs, encode)
    # size by encoded BYTE length: a non-ASCII sensor id is longer in
    # utf-8 bytes than in characters and would overflow a char-sized row
    encoded = [s.encode() for s in sensors]
    name_len = max(len(b) for b in encoded)
    name_mat = np.zeros((len(sensors), name_len), dtype="S1")
    for i, b in enumerate(encoded):
        for j, ch in enumerate(b):
            name_mat[i, j] = bytes([ch])
    variables = [
        Nc3Variable(
            "time",
            ("time",),
            tvals,
            {"units": TIME_UNITS, "calendar": "proleptic_gregorian"},
        ),
        Nc3Variable("sensor_name", ("sensor", "name_strlen"), name_mat),
        Nc3Variable(var_name, ("time", "sensor"), data, attrs),
    ]
    for coord_name, mapping in (sensor_coords or {}).items():
        coord_vals = np.array(
            [float(mapping.get(s, float("nan"))) for s in sensors],
            dtype="float64",
        )
        variables.append(Nc3Variable(coord_name, ("sensor",), coord_vals))
    write_netcdf3(
        path,
        {"time": None, "sensor": len(sensors), "name_strlen": name_len},
        variables,
        {**DEFAULT_GLOBAL_ATTRS, **dict(global_attrs or {})},
    )
