"""Unit tests for the time-series window layer (SURVEY §2.7 W1-W10).

Golden values are computed with pandas in-test (the reference's semantics),
never hard-coded from the reference repo.
"""

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cassandra_fs_pp_spark.operators.windows import (
    ffill_limited,
    interpolate_linear,
    per_key_dominant_freq,
    piecewise_offset,
    ratchet_depth,
    resample_grid,
    rolling_median,
    row_frame,
    time_frame,
    ts_delta_seconds,
)

T0 = dt.datetime(2021, 4, 30, 18, 0, 0)


def _series_df(spark, values, freq_min=15, name="x"):
    rows = [
        (T0 + dt.timedelta(minutes=freq_min * i), v) for i, v in enumerate(values)
    ]
    return spark.createDataFrame(rows, schema=f"time timestamp, {name} double")


def test_rolling_median_time_window_matches_pandas(spark):
    rng = np.random.default_rng(7)
    vals = rng.normal(size=100).round(3).tolist()
    df = _series_df(spark, vals)
    frame = time_frame("time", before_s=2 * 86400)
    out = (
        df.withColumn("med", rolling_median("x", frame))
        .orderBy("time")
        .toPandas()
    )
    s = pd.Series(vals, index=pd.date_range(T0, periods=100, freq="15min"))
    expected = s.rolling("2D").median()
    assert np.allclose(out["med"].to_numpy(), expected.to_numpy())


def test_rolling_median_centered(spark):
    vals = [1.0, 100.0, 3.0, 4.0, 5.0]
    df = _series_df(spark, vals)
    out = (
        df.withColumn("med", rolling_median("x", row_frame("time", before=1, after=1)))
        .orderBy("time")
        .toPandas()
    )
    s = pd.Series(vals)
    expected = s.rolling(3, center=True, min_periods=1).median()
    assert np.allclose(out["med"].to_numpy(), expected.to_numpy())


def test_ts_delta_and_dominant_freq(spark):
    df = _series_df(spark, [1.0] * 50, freq_min=15)
    extra = _series_df(spark, [2.0] * 3, freq_min=60)
    union = df.unionByName(extra).dropDuplicates(["time"])
    assert per_key_dominant_freq(union, "time", []).collect() == [(15 * 60,)]
    # per key: the mode of each series' deltas, the smallest on a tie;
    # a one-row key has no delta and no row
    # ("d" ties with the larger delta first)
    minutes = {
        "a": [0, 15, 30, 45, 105],
        "b": [0, 10, 30, 40, 60],
        "c": [0],
        "d": [0, 20, 30, 50, 60],
    }
    keyed = spark.createDataFrame(
        [(k, T0 + dt.timedelta(minutes=m)) for k, ms in minutes.items() for m in ms],
        "k string, time timestamp",
    )
    got = per_key_dominant_freq(keyed, "time", ["k"]).collect()
    assert sorted(map(tuple, got)) == [("a", 900), ("b", 600), ("d", 600)]
    deltas = (
        df.select(ts_delta_seconds("time").alias("d")).orderBy("d").toPandas()
    )
    assert deltas["d"].dropna().unique().tolist() == [900]


def test_resample_grid_and_ffill_limited(spark):
    # 15-min series with a 5-step hole; ffill(limit=3) fills 3, leaves 2 null
    times = [T0 + dt.timedelta(minutes=15 * i) for i in range(12)]
    keep = [0, 1, 2, 8, 9, 10, 11]
    rows = [(times[i], float(i)) for i in keep]
    df = spark.createDataFrame(rows, "time timestamp, x double")
    grid = resample_grid(df, "time", 900)
    assert grid.count() == 12
    out = (
        grid.withColumn("f", ffill_limited("x", "time", limit=3, freq_s=900))
        .orderBy("time")
        .toPandas()
    )
    s = pd.Series(
        [float(i) if i in keep else np.nan for i in range(12)],
        index=pd.DatetimeIndex(times),
    )
    expected = s.ffill(limit=3)
    assert np.allclose(out["f"].to_numpy(), expected.to_numpy(), equal_nan=True)


def test_interpolate_linear_matches_pandas(spark):
    vals = [None, 1.0, None, None, 4.0, None]
    df = _series_df(spark, vals)
    out = (
        df.withColumn("i", interpolate_linear("x", "time")).orderBy("time").toPandas()
    )
    expected = pd.Series(vals, dtype="float64").interpolate()
    assert np.allclose(out["i"].to_numpy(), expected.to_numpy(), equal_nan=True)


def _ratchet_loop(udg_norm: np.ndarray, install_depth: float) -> np.ndarray:
    """Reference loop semantics (cassandra_fs_pp/fs_pp.py:630-641),
    re-implemented from the spec: walk the normalized UDG series with a
    mutable offset; clamp depth at 0; on melt-out reset offset."""
    offset = install_depth
    out = []
    for u in udg_norm:
        d = min(0.0, u + offset)
        if d == 0.0:
            offset = -u
        out.append(d)
    return np.array(out)


def test_ratchet_depth_closed_form_equals_loop(spark):
    rng = np.random.default_rng(42)
    for trial in range(5):
        udg = np.cumsum(rng.normal(0, 0.1, size=200))  # random walk surface
        depth = -float(rng.uniform(0.2, 1.5))
        df = _series_df(spark, udg.tolist(), name="udg")
        out = (
            df.withColumn("d", ratchet_depth("udg", "time", depth))
            .orderBy("time")
            .toPandas()
        )
        expected = _ratchet_loop(udg, depth)
        assert np.allclose(out["d"].to_numpy(), expected), f"trial {trial}"


def test_piecewise_offset(spark):
    vals = [10.0] * 10
    df = _series_df(spark, vals)
    ev1 = T0 + dt.timedelta(minutes=15 * 3)
    ev2 = T0 + dt.timedelta(minutes=15 * 7)
    out = (
        df.withColumn("adj", piecewise_offset("x", "time", [(ev1, 2.0), (ev2, 3.0)]))
        .orderBy("time")
        .toPandas()
    )
    expected = [10.0] * 3 + [8.0] * 4 + [5.0] * 3
    assert out["adj"].tolist() == expected


def test_debounce_keep_first_bursts(spark):
    from cassandra_fs_pp_spark.operators.dedup import debounce_keep_first

    # key "a": bursts {0s, 100s, 250s}, {700s}, {1500s, 1850s(!gap 350>300)}
    # -> with gap_s=300: bursts are [0,100,250], [700], [1500], [1850]
    rows = [
        ("a", T0 + dt.timedelta(seconds=s), i)
        for i, s in enumerate([0, 100, 250, 700, 1500, 1850])
    ] + [("b", T0, 99), ("b", T0, 98)]  # equal ts -> tiebreak on id
    df = spark.createDataFrame(rows, "k string, ts timestamp, id long")
    out = debounce_keep_first(df, keys=["k"], ts="ts", gap_s=300, tiebreak=["id"])
    got = {(r.k, r.id): r.burst_n for r in out.collect()}
    assert got == {("a", 0): 3, ("a", 3): 1, ("a", 4): 1, ("a", 5): 1, ("b", 98): 2}


def test_time_weighted_avg_exact(spark):
    from cassandra_fs_pp_spark.operators.windows import time_weighted_avg

    # value 10 holds 60s, value 20 holds 40s; last sample (value 99) dropped
    rows = [
        ("a", T0, 10.0, 1),
        ("a", T0 + dt.timedelta(seconds=60), 20.0, 2),
        ("a", T0 + dt.timedelta(seconds=100), 99.0, 3),
        ("solo", T0, 5.0, 4),  # single sample -> no duration -> excluded
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double, id long")
    out = time_weighted_avg(df, keys=["k"], t="ts", x="v", tiebreak=["id"]).collect()
    assert len(out) == 1
    r = out[0]
    assert r.k == "a"
    assert r.twa_value == pytest.approx((10 * 60 + 20 * 40) / 100.0)
    assert r.span_s == pytest.approx(100.0)
    assert r.n_holds == 2


def test_sweep_concurrency_overnight_baseline(spark):
    from cassandra_fs_pp_spark.operators.windows import sweep_concurrency

    day1 = dt.datetime(2024, 1, 1, 22, 0, 0)
    day2 = dt.datetime(2024, 1, 2, 1, 0, 0)
    # two intervals opened on day 1 stay open across midnight; day 2 has
    # only ONE boundary pair but max concurrency 3 (2 carried + 1 new).
    rows = [
        (day1, day1 + dt.timedelta(hours=6)),          # 22:00 -> 04:00
        (day1 + dt.timedelta(minutes=30), day1 + dt.timedelta(hours=6)),
        (day2, day2 + dt.timedelta(minutes=10)),       # day2 01:00-01:10
    ]
    df = spark.createDataFrame(rows, "s timestamp, e timestamp")
    got = {
        r.day_ts.date().isoformat(): r.max_concurrent
        for r in sweep_concurrency(df, "s", "e").collect()
    }
    assert got == {"2024-01-01": 2, "2024-01-02": 3}


def test_sweep_concurrency_baseline_is_the_peak(spark):
    """A day whose boundaries are ALL ends still peaked at the carried-in
    baseline (intervals open at midnight hold until the first end)."""
    from cassandra_fs_pp_spark.operators.windows import sweep_concurrency

    day1 = dt.datetime(2024, 3, 1, 20, 0, 0)
    # five intervals open on day 1, all ending on day 2 — day 2 has only
    # -1 boundaries, so post-boundary sums are 4,3,2,1,0 but the true
    # day-2 max concurrency is the baseline 5
    rows = [
        (day1 + dt.timedelta(minutes=i), day1 + dt.timedelta(hours=10 + i))
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, "s timestamp, e timestamp")
    got = {
        r.day_ts.date().isoformat(): r.max_concurrent
        for r in sweep_concurrency(df, "s", "e").collect()
    }
    assert got == {"2024-03-01": 5, "2024-03-02": 5}
