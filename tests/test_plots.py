"""K4 — PNG plot export (reference bin/plot_L2.py:84-169).

The contract under test: the pixel-grid aggregation happens IN Spark
(bounded collect), and the rendered artifact is a spec-valid PNG that the
repo's own from-spec decoder round-trips."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cassandra_fs_pp_spark.functions.multimodal import decode_png
from cassandra_fs_pp_spark.plots import (
    PALETTE,
    _nice_ticks,
    colormap,
    render_depth_scatter,
    render_heatmap,
    render_timeseries,
)


@pytest.fixture(scope="module")
def series_df(spark):
    # two clean sine-ish series over 10 days, one with a null gap
    rows = 2000
    return spark.range(rows).select(
        F.timestamp_micros(
            (F.lit(1_600_000_000_000_000) + F.col("id") * 432_000_000).cast("long")
        ).alias("ts"),
        (F.sin(F.col("id") / 50.0) * 10.0 + 5.0).alias("a"),
        F.when(F.col("id").between(800, 900), None)
        .otherwise(F.cos(F.col("id") / 80.0) * 3.0)
        .alias("b"),
    )


def test_nice_ticks_are_nice():
    t = _nice_ticks(0.0, 10.0)
    assert t == [0.0, 2.0, 4.0, 6.0, 8.0, 10.0]
    t = _nice_ticks(-0.37, 0.41)
    assert all(abs(round(x / 0.2) * 0.2 - x) < 1e-9 for x in t)
    assert _nice_ticks(5.0, 5.0) == [5.0]


def test_colormap_endpoints_and_nan():
    rgb = colormap(np.array([0.0, 1.0, np.nan]))
    assert rgb.shape == (3, 3)
    assert tuple(rgb[0]) == (40, 25, 100)
    assert tuple(rgb[1]) == (250, 220, 50)
    assert tuple(rgb[2]) == (235, 235, 235)


def test_timeseries_png_roundtrip_and_series_pixels(series_df):
    png = render_timeseries(
        series_df, "ts", ["a", "b"], width=480, height=240, title="T AIR"
    )
    img = decode_png(png)
    assert img.shape == (240, 480, 3)
    # both series' palette colors appear
    flat = img.reshape(-1, 3)
    for color in PALETTE[:2]:
        assert (flat == np.array(color, dtype=np.uint8)).all(axis=1).any()
    # white background dominates; black frame exists
    assert (flat == 255).all(axis=1).mean() > 0.5
    assert (flat == 0).all(axis=1).any()


def test_timeseries_deterministic(series_df):
    p1 = render_timeseries(series_df, "ts", ["a"], width=320, height=200)
    p2 = render_timeseries(series_df, "ts", ["a"], width=320, height=200)
    assert p1 == p2


def test_timeseries_collect_is_bounded(series_df):
    # the scale valve: what reaches the driver is <= plot-width rows
    from cassandra_fs_pp_spark.plots import _grid_agg

    rows, lo, hi = _grid_agg(series_df, "ts", ["a"], 100)
    assert len(rows) <= 100
    assert hi > lo


def test_heatmap_png(spark):
    # 4 sensors x 30 days, value = depth gradient + trend
    df = spark.range(3000).select(
        F.timestamp_micros(
            (F.lit(1_600_000_000_000_000) + (F.col("id") / 4).cast("long") * 3_456_000_000).cast(
                "long"
            )
        ).alias("ts"),
        (F.col("id") % 4).alias("sensor"),
        ((F.col("id") % 4) * 2.0 + F.col("id") / 1000.0).alias("v"),
    )
    png = render_heatmap(df, "ts", "sensor", "v", width=400, height=220, title="DTC1")
    img = decode_png(png)
    assert img.shape == (220, 400, 3)
    # cold anchor appears (top band early times) and warm colors appear
    flat = img.reshape(-1, 3).astype(int)
    assert (np.abs(flat - np.array([40, 25, 100])) <= 30).all(axis=1).any()
    assert (np.abs(flat - np.array([250, 220, 50])) <= 30).all(axis=1).any()


def test_depth_scatter_png(spark):
    df = spark.range(2000).select(
        F.timestamp_micros(
            (F.lit(1_600_000_000_000_000) + F.col("id") * 432_000_000).cast("long")
        ).alias("ts"),
        (-(F.col("id") % 5).cast("double") * 0.15).alias("depth"),
        (F.col("id") % 17).cast("double").alias("vwc"),
    )
    png = render_depth_scatter(df, "ts", "depth", "vwc", width=400, height=220)
    img = decode_png(png)
    assert img.shape == (220, 400, 3)
    flat = img.reshape(-1, 3)
    assert (flat != 255).any()


def test_single_point_and_constant_series(spark):
    df = spark.createDataFrame(
        [("2021-01-01 00:00:00", 1.5)], "ts string, v double"
    ).select(F.col("ts").cast("timestamp").alias("ts"), "v")
    png = render_timeseries(df, "ts", ["v"], width=200, height=120)
    assert decode_png(png).shape == (120, 200, 3)


def test_cli_plot_l2_products(spark, tmp_path):
    """The `plot` CLI twin of bin/plot_L2.py: per-variable raw+24H-median
    PNG and a chain heatmap over an engine L2 CSV product."""
    from cassandra_fs_pp_spark.cli import main as cli_main

    df = spark.range(500).select(
        F.date_format(
            F.timestamp_micros(
                (F.lit(1_600_000_000_000_000) + F.col("id") * 1_800_000_000).cast("long")
            ),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("TIMESTAMP"),
        (F.sin(F.col("id") / 20.0) * 2 + 12).alias("batt"),
        (F.col("id") / 100.0).alias("DTC1_1"),
        (F.col("id") / 100.0 + 3.0).alias("DTC1_2"),
        (F.col("id") / 1000.0).alias("TDR1_VWC(m3/m3)"),
        (F.col("id") / 50.0).alias("T/C_1"),
        (F.col("id") / 50.0 + 1.0).alias("T/C_2"),
    )
    csv = str(tmp_path / "l2csv")
    df.coalesce(1).write.option("header", True).csv(csv)
    outdir = str(tmp_path / "plots")
    rc = cli_main(
        ["plot", csv, "-o", outdir, "--site", "S", "--vars", "batt",
         "--chain-prefix", "DTC1_", "--width", "320", "--height", "200"]
    )
    assert rc == 0
    import os

    line = decode_png(open(os.path.join(outdir, "S_batt.png"), "rb").read())
    heat = decode_png(open(os.path.join(outdir, "S_DTC1_heatmap.png"), "rb").read())
    assert line.shape == (200, 320, 3)
    assert heat.shape == (200, 320, 3)

    # without --vars every numeric non-chain column is plotted, and a
    # column or chain prefix with a unit such as m3/m3 still names one
    # file in outdir
    outdir = str(tmp_path / "all")
    rc = cli_main(
        ["plot", csv, "-o", outdir, "--site", "S", "--chain-prefix", "DTC1_",
         "--chain-prefix", "T/C_", "--width", "160", "--height", "100"]
    )
    assert rc == 0
    assert sorted(os.listdir(outdir)) == [
        "S_DTC1_heatmap.png", "S_TDR1_VWC(m3_m3).png", "S_T_C_heatmap.png",
        "S_batt.png",
    ]


def test_numeric_epoch_seconds_time_column(spark):
    """A bigint epoch-seconds time column bins identically to a timestamp
    one (review finding: bounds and binning must share one unit)."""
    from cassandra_fs_pp_spark.plots import _grid_agg

    base = spark.range(100).select(
        (F.lit(1_600_000_000) + F.col("id") * 3600).alias("ts_sec"),
        F.col("id").cast("double").alias("v"),
    )
    rows, lo, hi = _grid_agg(base, "ts_sec", ["v"], 50)
    assert len(rows) == 50  # spread over all bins, not clamped into one
    assert hi - lo == 99 * 3600 * 1_000_000


def test_outage_gap_not_bridged(spark):
    """Bins with NO rows break the polyline: no line pixels in the
    column range of a total outage."""
    df = spark.createDataFrame(
        [(i, 50.0) for i in range(0, 40)] + [(i, 50.0) for i in range(160, 200)],
        "step long, v double",
    ).select(
        F.timestamp_micros(
            (F.lit(1_600_000_000_000_000) + F.col("step") * 3_600_000_000).cast("long")
        ).alias("ts"),
        "v",
    )
    png = render_timeseries(df, "ts", ["v"], width=400, height=200, legend=False)
    img = decode_png(png)
    from cassandra_fs_pp_spark.plots import _ML, _MR

    pw = 400 - _ML - _MR
    # middle fifth of the plot area is inside the outage
    mid = img[:, _ML + 2 * pw // 5 : _ML + 3 * pw // 5]
    assert not (mid.reshape(-1, 3) == np.array(PALETTE[0], dtype=np.uint8)).all(
        axis=1
    ).any(), "line drawn across a no-data gap"


def test_all_null_depth_raises_value_error(spark):
    df = spark.createDataFrame(
        [("2021-01-01 00:00:00", None, 1.0)],
        "ts string, depth double, v double",
    ).select(F.col("ts").cast("timestamp").alias("ts"), "depth", "v")
    with pytest.raises(ValueError, match="all-null"):
        render_depth_scatter(df, "ts", "depth", "v", width=200, height=120)
