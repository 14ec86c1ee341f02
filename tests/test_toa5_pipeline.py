"""TOA5 ingest + reference-parity L0->L1->L2 pipeline tests.

Synthetic TOA5 fixture (shaped per FIXTURES.md §1, generated here — nothing
read from the reference repo) with deliberate mess: exact duplicate rows
across bales, a conflicting duplicate timestamp, an all-null column,
out-of-range values, bad/missing quality flags, a UDG spike, and an
unlogged height-change step. Differential checks against short pandas
re-implementations of the reference semantics where the math is nontrivial
(UDG despike filter, ratchet depth).
"""

from __future__ import annotations

import datetime as dt
import textwrap

import numpy as np
import pandas as pd
import pytest

from cassandra_fs_pp_spark.config import load_config
from cassandra_fs_pp_spark.plans.levels import (
    calc_depth_tdr,
    chain_installation_depths,
    filter_udg,
    fleet_normalise_udg,
    level0_to_level1,
    level1_to_level2,
    load_calibrations,
)
from cassandra_fs_pp_spark.sinks import encode_fixed_point
from cassandra_fs_pp_spark.sources.toa5 import (
    read_toa5,
    read_toa5_header,
    read_toa5_positions,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)
FREQ = dt.timedelta(minutes=15)
N = 241  # through 2024-01-03 12:00
EVENT = dt.datetime(2024, 1, 2, 12, 0, 0)  # index 144: unlogged UDG step
SPIKE_I = 50  # TCDT=5.0 for one sample
BADQ_I = 60  # Q=300 -> UDG dropped
NULLQ_I = (70, 71, 72)  # Q=NAN -> treated as 150, kept

COLS = [
    "TIMESTAMP", "RECORD", "BattV_Min", "PTemp_C_Min", "T107_C", "TCDT", "Q",
    "DT", "TDR1_VWC", "TDR1_T", "TDR2_VWC", "TDR2_T", "EC(1)", "EC(2)",
    "DTC1(1)", "DTC1(2)", "Dead",
]


def _row(i: int, record: int) -> list[str]:
    t = T0 + i * FREQ
    tcdt = 5.0 if i == SPIKE_I else (2.00 if t < EVENT else 1.76)
    q = "300" if i == BADQ_I else ("NAN" if i in NULLQ_I else "180")
    t107 = "50.0" if i == 40 else "-20.5"  # index 40: out of [-50, 10]
    return [
        f'"{t:%Y-%m-%d %H:%M:%S}"', str(record), "13.04", "-19.0", t107,
        f"{tcdt}", q, "0.1", "0.35", "-14.0", "0.40", "-13.5",
        "0.9", "0.8", "-10.0", "-11.0", "NAN",
    ]


def _toa5_file(path, rows: list[list[str]], names=COLS) -> None:
    quoted = ",".join(f'"{c}"' for c in names)
    units = ",".join(['"TS"', '"RN"'] + ['"unit"'] * (len(names) - 2))
    aggs = ",".join(['""', '""'] + ['"Smp"'] * (len(names) - 2))
    body = "\n".join(",".join(r) for r in rows)
    path.write_text(
        f'"TOA5","TESTFS","CR800","1234","CR800.Std","CPU:x.CR8","5678","Main"\n'
        f"{quoted}\n{units}\n{aggs}\n{body}\n"
    )


@pytest.fixture(scope="module")
def site(tmp_path_factory):
    """A full synthetic site: 2 bales + serviced file + config + dims."""
    root = tmp_path_factory.mktemp("site")
    ds = root / "fielddata"
    ds.mkdir()
    # bale 1: rows 0..99 | bale 2: rows 96..199 (4 exact dups) + one
    # conflicting duplicate timestamp (index 95, different battv+record)
    _toa5_file(ds / "MainTable1.dat", [_row(i, i) for i in range(0, 100)])
    conflict = _row(95, 500)
    conflict[2] = "99.0"
    _toa5_file(
        ds / "MainTable2.dat",
        [_row(i, i) for i in range(96, 200)] + [conflict],
    )
    serviced = ds / "serviced"
    serviced.mkdir()
    _toa5_file(serviced / "MainTable9.dat", [_row(i, i) for i in range(200, N)])

    pos = root / "DTC1_Diag.dat"
    _toa5_file(
        pos,
        [['"2024-01-01 00:00:00"', "0", "0", "150", "300", "450"]],
        names=["TIMESTAMP", "RECORD", "P(1)", "P(2)", "P(3)", "P(4)"],
    )
    (root / "cal.csv").write_text(
        ",m,c,r2\nEC(1),2.0,0.1,0.99\nEC(3),4.0,0.3,0.98\n"
    )
    cfg_file = root / "site.toml"
    cfg_file.write_text(
        textwrap.dedent(
            """\
            site="TESTFS"
            tz='UTC'
            [level0_1]
            index_col='TIMESTAMP'
            udg_key='TCDT'
            [level1_2]
            udg_height_change=[[2024-01-01, 2.00], [2024-01-02T12:00:00]]
            remove_columns=["RECORD", "PTemp_C_Min", "DT"]
            [level1_2.tdr_info]
            1=[2024-01-01,-0.48,false]
            [level0]
            [level0.fielddata]
            subpath=""
            type="bales"
            bales_start=1
            bales_stop=2
            """
        )
    )
    return root


@pytest.fixture(scope="module")
def l1(spark, site):
    cfg = load_config(str(site / "site.toml"))
    return level0_to_level1(spark, cfg, str(site)).cache()


def pandas_frame(n=N):
    """The same synthetic series as a pandas frame (dedup'd ground truth)."""
    idx = pd.date_range(T0, periods=n, freq="15min")
    tcdt = np.where(
        np.arange(n) == SPIKE_I, 5.0, np.where(idx < EVENT, 2.00, 1.76)
    )
    q = np.where(
        np.isin(np.arange(n), NULLQ_I), np.nan,
        np.where(np.arange(n) == BADQ_I, 300.0, 180.0),
    )
    return pd.DataFrame({"TCDT": tcdt, "Q": q}, index=idx)


# --------------------------------------------------------------------------- #
# reader
# --------------------------------------------------------------------------- #


def test_toa5_header_and_schema(spark, site):
    hdr = read_toa5_header(str(site / "fielddata" / "MainTable1.dat"))
    assert hdr.names[:2] == ("TIMESTAMP", "RECORD")
    assert hdr.units_map["TIMESTAMP"] == "TS"
    df = read_toa5(spark, str(site / "fielddata" / "MainTable1.dat"))
    assert df.schema["TIMESTAMP"].dataType.typeName() == "timestamp"
    assert df.schema["RECORD"].dataType.typeName() == "long"
    assert df.schema["TCDT"].dataType.typeName() == "double"
    assert df.count() == 100
    # NAN sentinel -> null (Dead is all-NAN)
    assert df.where(df["Dead"].isNotNull()).count() == 0


def test_toa5_positions(spark, site):
    pos = read_toa5_positions(spark, str(site / "DTC1_Diag.dat"))
    assert pos == [0.0, 150.0, 300.0, 450.0]


# --------------------------------------------------------------------------- #
# L0 -> L1
# --------------------------------------------------------------------------- #


def test_level0_to_level1_dedup(l1):
    # 100 + 105 + 41 raw rows -> N distinct timestamps
    assert l1.count() == N
    assert l1.select("TIMESTAMP").distinct().count() == N
    # keep-first: the conflicting duplicate (battv 99.0, file 2) lost to file 1
    i95 = l1.where(l1["TIMESTAMP"] == T0 + 95 * FREQ).collect()[0]
    assert i95["BattV_Min"] == pytest.approx(13.04)
    assert i95["RECORD"] == 95


def test_level0_to_level1_one_window_matches_two(spark, tmp_path):
    """The engine's single keep-first time dedup keeps the same rows as the
    reference's two steps, exact-row dedup then time dedup, both as
    keep-first windows over ``(_seq, RECORD)``."""
    from pyspark.sql import functions as F

    from cassandra_fs_pp_spark.operators.dedup import dedup_keep_first

    ds = tmp_path / "fielddata"
    (ds / "serviced").mkdir(parents=True)
    null_ts = _row(0, 100)
    null_ts[0] = '"2024-01-01 25:00:00"'  # timestamp-shaped, unparseable
    null_ts_other = _row(0, 101)
    null_ts_other[0] = null_ts[0]
    null_ts_other[2] = "55.0"
    conflict = _row(5, 700)  # bale 1's timestamp 5, other data
    conflict[2] = "99.0"
    null_rec = _row(15, 0)  # bale 2's timestamp 15: null RECORD sorts first
    null_rec[1] = "NAN"
    null_rec[2] = "77.0"
    bales = [
        [_row(i, i) for i in range(0, 12)] + [null_ts],
        # rows 8..11 and the null-timestamp row repeat bale 1 exactly
        [_row(i, i) for i in range(8, 20)] + [conflict, null_rec, null_ts, null_ts_other],
        [_row(i, i) for i in range(18, 24)] + [null_rec],
    ]
    files = [ds / "MainTable1.dat", ds / "MainTable2.dat", ds / "serviced" / "MainTable9.dat"]
    for f, rows in zip(files, bales):
        _toa5_file(f, rows)
    cfg_file = tmp_path / "site.toml"
    cfg_file.write_text(
        textwrap.dedent(
            """\
            site="TESTFS"
            [level0_1]
            index_col='TIMESTAMP'
            [level0]
            [level0.fielddata]
            subpath=""
            type="bales"
            bales_start=1
            bales_stop=2
            """
        )
    )
    one = level0_to_level1(
        spark, load_config(str(cfg_file)), str(tmp_path), keep_provenance=True
    )
    cols = one.columns

    union = None
    for seq, f in enumerate(files):
        df = read_toa5(spark, [str(f)], with_provenance=False)
        df = df.drop("Dead").withColumn("_seq", F.lit(seq))
        union = df if union is None else union.unionByName(df)
    data_cols = [c for c in union.columns if c != "_seq"]
    two = dedup_keep_first(union, keys=data_cols, order_by=["_seq"])
    two = dedup_keep_first(two, keys=["TIMESTAMP"], order_by=["_seq", "RECORD"])

    def rows(df):
        return sorted(r[0] for r in df.select(F.to_json(F.struct(*cols))).collect())

    got, want = rows(one), rows(two.select(*cols))
    assert got == want
    assert union.count() > len(got) == 24 + 1  # 24 timestamps and one null
    kept = {(r["TIMESTAMP"], r["RECORD"], r["_seq"]): r["BattV_Min"] for r in one.collect()}
    assert kept[(T0 + 5 * FREQ, 5, 0)] == pytest.approx(13.04)
    assert kept[(T0 + 15 * FREQ, None, 1)] == pytest.approx(77.0)
    assert kept[(None, 100, 0)] == pytest.approx(13.04)


def test_level0_to_level1_prunes_all_null(l1):
    assert "Dead" not in l1.columns
    assert "TCDT" in l1.columns


# --------------------------------------------------------------------------- #
# UDG normalize + filter (differential vs pandas reference semantics)
# --------------------------------------------------------------------------- #


def test_normalise_udg_auto_step(l1, site):
    from pyspark.sql import functions as F

    cfg = load_config(str(site / "site.toml"))
    # the auto step sits 1.5 days after the install event: accepted, as
    # the install event lies before the step's [date-1d, date+1d] window
    norm, _ = fleet_normalise_udg(
        l1.withColumn("site", F.lit(cfg.site)),
        {cfg.site: cfg.udg_height_changes},
    )
    norm = norm.orderBy("TIMESTAMP")
    rows = norm.collect()
    # zeroed at install height, and the auto-detected -0.24 step re-zeroes
    assert rows[0]["TCDT"] == pytest.approx(0.0, abs=1e-9)
    assert rows[-1]["TCDT"] == pytest.approx(0.0, abs=1e-9)
    # spike survives normalization (filtering is a separate stage)
    assert max(r["TCDT"] for r in rows) == pytest.approx(3.0)


def test_filter_udg_matches_pandas(spark, l1):
    out = filter_udg(l1).orderBy("TIMESTAMP").toPandas().set_index("TIMESTAMP")

    pdf = pandas_frame()
    q = np.where(np.isnan(pdf["Q"]), 150, pdf["Q"])
    udg = pdf["TCDT"].where(q >= 150).where(q <= 210)
    freq = pd.DataFrame(udg.index[1:] - udg.index[:-1]).mode().iloc[0, 0]
    udg_reg = udg.resample(freq).ffill(limit=3)
    med = udg_reg.rolling("2D").median()
    filt = udg_reg.where(np.abs(med - udg_reg) < 0.5)
    expected = filt[udg.index]

    assert len(out) == N
    got = out["TCDT"].reindex(expected.index)
    assert (got.isna() == expected.isna()).all()
    mask = ~expected.isna()
    assert np.allclose(got[mask], expected[mask])
    # the spike itself must be gone
    assert np.isnan(got.loc[T0 + SPIKE_I * FREQ])


# --------------------------------------------------------------------------- #
# L1 -> L2 end-to-end
# --------------------------------------------------------------------------- #


def test_level1_to_level2(spark, l1, site):
    cfg = load_config(str(site / "site.toml"))
    cal = load_calibrations(spark, str(site / "cal.csv"))
    assert cal == {"EC(1)": (2.0, 0.1), "EC(3)": (4.0, 0.3)}

    l2 = level1_to_level2(l1, cfg, cal).cache()
    assert l2.count() == N
    # P4 drops + P6 renames
    for gone in ("RECORD", "PTemp_C_Min", "DT"):
        assert gone not in l2.columns
    for c in ("TCDT(m)", "TDR1_VWC(m3/m3)", "TDR2_T(C)", "DTC1_1(C)", "DTC1_2(C)"):
        assert c in l2.columns

    first = l2.orderBy("TIMESTAMP").limit(1).collect()[0]
    # J1: EC(1) has own coefficients 2*(1-0.9)+0.1; EC(2) falls back to the
    # mean of (2,4)/(0.1,0.3): 3*(1-0.8)+0.2
    assert first["EC(1)"] == pytest.approx(0.3)
    assert first["EC(2)"] == pytest.approx(0.8)
    # UDG normalized to ~0 and despiked
    assert first["TCDT(m)"] == pytest.approx(0.0, abs=1e-9)
    assert (
        l2.where(l2["TIMESTAMP"] == T0 + SPIKE_I * FREQ).collect()[0]["TCDT(m)"]
        is None
    )
    # P7: out-of-range T107_C nulled
    assert (
        l2.where(l2["TIMESTAMP"] == T0 + 40 * FREQ).collect()[0]["T107_C"] is None
    )


def _with_events(cfg, events):
    """``cfg`` with its height-change events replaced."""
    import dataclasses

    raw = {**cfg.raw, "level1_2": {**cfg.level1_2, "udg_height_change": events}}
    return dataclasses.replace(cfg, raw=raw)


LATE = T0 + dt.timedelta(days=30)  # after the last reading


@pytest.mark.parametrize(
    "run, match",
    [
        pytest.param(
            lambda l1, cfg: level1_to_level2(l1, _with_events(cfg, [[T0]])),
            "first udg_height_change event needs a height",
            id="first-event-without-height",
        ),
        pytest.param(
            lambda l1, cfg: level1_to_level2(
                l1, _with_events(cfg, [[T0, 2.0], [LATE]])
            ),
            "no UDG data around height change",
            id="no-data-around-auto-event",
        ),
        pytest.param(
            lambda l1, cfg: calc_depth_tdr(l1.select("TIMESTAMP", "TCDT"), LATE, -0.48),
            "no UDG data at/after install date",
            id="no-data-after-install",
        ),
        pytest.param(
            lambda l1, cfg: filter_udg(l1.where(l1["TIMESTAMP"] == T0)),
            "need >=2 rows to detect sampling frequency",
            id="one-gated-reading",
        ),
    ],
)
def test_l1_to_l2_error_paths(l1, site, run, match):
    cfg = load_config(str(site / "site.toml"))
    with pytest.raises(ValueError, match=match):
        run(l1, cfg)


def test_l1_to_l2_and_depth_independent_of_host_tz(spark, l1, site):
    """Config dates are naive UTC. On a host whose local zone is not UTC
    the height-change steps and the install cut must land on the same
    instants, so L2 and the TDR depth match a UTC host's."""
    import os
    import time

    from pyspark.sql import functions as F

    cfg = load_config(str(site / "site.toml"))
    cal = load_calibrations(spark, str(site / "cal.csv"))
    date, depth, _ = cfg.tdr_info["1"]

    def run():
        l2 = level1_to_level2(l1, cfg, cal)
        d = calc_depth_tdr(
            l2.select("TIMESTAMP", "TCDT(m)"), date, depth, udg_col="TCDT(m)"
        )
        # JSON renders timestamps in the session time zone, not the host's
        return [
            sorted(r[0] for r in df.select(F.to_json(F.struct("*"))).collect())
            for df in (l2, d)
        ]

    utc = run()
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/Nuuk"
    time.tzset()
    try:
        nuuk = run()
    finally:
        if old_tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old_tz
        time.tzset()

    assert len(utc[0]) == N and utc[1]
    assert nuuk == utc


# --------------------------------------------------------------------------- #
# depth products
# --------------------------------------------------------------------------- #


def test_chain_installation_depths():
    d = chain_installation_depths([0, 150, 300, 450], first_sensor=1, depth=-0.17)
    assert d == pytest.approx({1: -0.17, 2: -0.32, 3: -0.47, 4: -0.62})


def test_calc_depth_tdr_matches_reference_loop(spark):
    rng = np.random.default_rng(7)
    n = 400
    idx = pd.date_range("2024-06-01", periods=n, freq="h")
    # noisy melt season: mostly rising udg (surface lowering) with dips
    udg = pd.Series(np.cumsum(rng.normal(0.004, 0.02, n)) + 2.0, index=idx)

    install_depth = -0.25
    # reference sequential semantics (fs_pp.py:636-641), re-stated
    u = udg - udg.iloc[0]
    offset = install_depth
    expected = []
    for ut in u:
        dt_ = min(0.0, ut + offset)
        if dt_ == 0.0:
            offset = -ut
        expected.append(dt_)

    sdf = spark.createDataFrame(
        pd.DataFrame({"TIMESTAMP": idx, "TCDT": udg.values})
    )
    got = (
        calc_depth_tdr(sdf, idx[0].to_pydatetime(), install_depth)
        .orderBy("TIMESTAMP")
        .toPandas()["depth"]
        .to_numpy()
    )
    assert np.allclose(got, np.array(expected), atol=1e-12)


# --------------------------------------------------------------------------- #
# sinks
# --------------------------------------------------------------------------- #


def test_encode_fixed_point(spark):
    df = spark.createDataFrame(
        [(1.2345, None), (None, 2.0)], "a double, b double"
    )
    rows = encode_fixed_point(df).collect()
    vals = {(r["a"], r["b"]) for r in rows}
    assert vals == {(1234, -9999), (-9999, 2000)}


def test_l1_csv_roundtrip(spark, l1, tmp_path):
    """K1 write -> S4 re-read preserves rows, columns, timestamps."""
    from cassandra_fs_pp_spark.plans.levels import load_level1_csv
    from cassandra_fs_pp_spark.sinks import write_csv_single

    out = str(tmp_path / "l1csv")
    write_csv_single(l1, out)
    back = load_level1_csv(spark, out)
    assert back.count() == l1.count()
    assert set(back.columns) == set(l1.columns)
    assert back.schema["TIMESTAMP"].dataType.typeName() == "timestamp"
    a = l1.orderBy("TIMESTAMP").select("TIMESTAMP", "TCDT").collect()
    b = back.orderBy("TIMESTAMP").select("TIMESTAMP", "TCDT").collect()
    assert a == b


def test_load_position_csv(spark, tmp_path):
    from cassandra_fs_pp_spark.plans.levels import load_position_csv

    f = tmp_path / "ec.csv"
    f.write_text("depth_m\n0.05\n0.35\n0.65\n")
    assert load_position_csv(spark, str(f)) == [0.05, 0.35, 0.65]


def test_filter_udg_fleet_partitioned(spark):
    """Fleet mode: filter_udg(partition_by=['site']) despikes each site's
    series on its own dominant grid, matching per-site pandas."""
    import numpy as np
    import pandas as pd

    from cassandra_fs_pp_spark.plans.levels import filter_udg

    frames = []
    pandas_truth = {}
    for site, freq_min, spike_i in (("A", 15, 30), ("B", 60, 40)):
        idx = pd.date_range("2024-01-01", periods=120, freq=f"{freq_min}min")
        tcdt = np.full(120, 2.0)
        tcdt[spike_i] = 9.0
        q = np.full(120, 180.0)
        q[10] = 300.0  # gated out
        frames.append(
            pd.DataFrame(
                {"site": site, "TIMESTAMP": idx, "TCDT": tcdt, "Q": q}
            )
        )
        s = pd.Series(tcdt, index=idx)
        s = s.where((q >= 150) & (q <= 210))
        reg = s.resample(f"{freq_min}min").ffill(limit=3)
        med = reg.rolling("2D").median()
        filt = reg.where((med - reg).abs() < 0.5)
        pandas_truth[site] = filt[s.index]

    sdf = spark.createDataFrame(pd.concat(frames))
    out = (
        filter_udg(sdf, partition_by=["site"])
        .orderBy("site", "TIMESTAMP")
        .toPandas()
    )
    for site in ("A", "B"):
        got = out[out["site"] == site].set_index("TIMESTAMP")["TCDT"]
        want = pandas_truth[site]
        assert (got.isna().to_numpy() == want.isna().to_numpy()).all()
        m = ~want.isna().to_numpy()
        assert np.allclose(got.to_numpy()[m], want.to_numpy()[m])


def test_engine_facade_and_cli(spark, site, tmp_path, capsys):
    """SiteEngine drives L0->L1->L2 end-to-end; the CLI twins run both
    stages against the same synthetic site and print each product's row
    count."""
    import re

    from cassandra_fs_pp_spark.cli import main as cli_main
    from cassandra_fs_pp_spark.engine import SiteEngine

    eng = SiteEngine(spark, str(site / "site.toml"), str(site))
    l1 = eng.level0_to_level1()
    assert l1.count() == N
    l1_path = str(tmp_path / "l1out")
    eng.write_l1(l1, l1_path)
    back = eng.load_level1(l1_path)
    cal = eng.load_calibrations(str(site / "cal.csv"))
    l2 = eng.level1_to_level2(back, cal)
    assert "TCDT(m)" in l2.columns and l2.count() == N
    assert eng.chain_depths([0, 150], 1, -0.17)[2] == pytest.approx(-0.32)

    # CLI: l1 (with overwrite guard) then l2
    out1 = str(tmp_path / "cli_l1")
    assert cli_main(["l1", str(site / "site.toml"), str(site), "-o", out1]) == 0
    assert cli_main(["l1", str(site / "site.toml"), str(site), "-o", out1]) == 1
    out2 = str(tmp_path / "cli_l2")
    nc = str(tmp_path / "cli_l2.nc")
    assert (
        cli_main(
            ["l2", str(site / "site.toml"), str(site), "--l1", out1,
             "-o", out2, "--calibration", str(site / "cal.csv"),
             "--netcdf", nc]
        )
        == 0
    )
    printed = re.findall(r"wrote (L1|L2): \S+ \((\d+) rows\)", capsys.readouterr().out)
    assert printed == [("L1", str(N)), ("L2", str(N))], printed
    l2cli = spark.read.csv(out2, header=True, inferSchema=True)
    assert l2cli.count() == N

    # --netcdf now writes a REAL classic .nc (built-in writer, no xarray):
    # scan it back (S11) and cross-check a value against the CSV export
    from cassandra_fs_pp_spark.sources.netcdf import load_netcdf

    nc_df = load_netcdf(spark, nc, time_col="TIMESTAMP")
    assert nc_df.count() == N
    a = l2cli.orderBy("TIMESTAMP").select("TCDT(m)").limit(5).collect()
    b = nc_df.orderBy("TIMESTAMP").select("TCDT(m)").limit(5).collect()
    for ra, rb in zip(a, b):
        va, vb = ra["TCDT(m)"], rb["TCDT(m)"]
        if va is None:
            assert vb is None
        else:
            assert vb == pytest.approx(va, abs=0.0005)


@pytest.fixture(scope="module")
def engine_l1(spark, site, l1, tmp_path_factory):
    """(engine, L1 re-read from its written CSV, calibrations)."""
    from cassandra_fs_pp_spark.engine import SiteEngine

    eng = SiteEngine(spark, str(site / "site.toml"), str(site))
    path = eng.write_l1(l1, str(tmp_path_factory.mktemp("engine") / "l1"))
    return eng, eng.load_level1(path), eng.load_calibrations(str(site / "cal.csv"))


def _write_l2(eng, l2, out) -> tuple[bytes, bytes]:
    """Both L2 sinks for one frame -> (CSV part file bytes, NetCDF bytes)."""
    out.mkdir()
    eng.write_l2_csv(l2, str(out / "l2"))
    eng.to_netcdf(l2, str(out / "l2.nc"))
    (part,) = (out / "l2").glob("part-*")
    return part.read_bytes(), (out / "l2.nc").read_bytes()


def test_engine_l2_sinks_match_lazy_lineage(engine_l1, tmp_path):
    """The CSV and NetCDF written from SiteEngine's materialised L2 are
    byte-identical to those written from the lazy ``levels`` lineage."""
    eng, back, cal = engine_l1
    got = _write_l2(eng, eng.level1_to_level2(back, cal), tmp_path / "engine")
    want = _write_l2(
        eng, level1_to_level2(back, eng.config, cal), tmp_path / "lazy"
    )
    assert got[0] == want[0]
    assert got[1] == want[1]


def _jobs(spark, group: str, action) -> int:
    """Number of Spark jobs ``action()`` runs (one job group per call)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_engine_l2_runs_its_lineage_once(spark, engine_l1, tmp_path):
    """SiteEngine.level1_to_level2 returns rows read from a checkpoint
    (ExistingRDD scan, no FileScan of the L1 CSV), so each L2 sink runs
    at most 3 Spark jobs instead of re-running the lineage (14 jobs)."""
    eng, back, cal = engine_l1
    l2 = eng.level1_to_level2(back, cal)
    plan = l2._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, plan
    assert "FileScan" not in plan, plan

    csv_jobs = _jobs(
        spark, "engine-l2-csv", lambda: eng.write_l2_csv(l2, str(tmp_path / "l2"))
    )
    nc_jobs = _jobs(
        spark, "engine-l2-nc", lambda: eng.to_netcdf(l2, str(tmp_path / "l2.nc"))
    )
    assert 1 <= csv_jobs <= 3, csv_jobs
    assert 1 <= nc_jobs <= 3, nc_jobs


def test_l1_to_l2_job_budget(spark, site, l1, engine_l1, tmp_path):
    """The L1 -> L2 half runs a constant number of Spark jobs: loading L1
    runs none (declared types, header read on the driver), loading the
    calibrations one (the collect), and SiteEngine.level1_to_level2 one
    collect of every per-site scalar plus the checkpoint of the lineage,
    at most 12 (19 with a collect per scalar and a second UDG join)."""
    eng, _, _ = engine_l1
    path = eng.write_l1(l1, str(tmp_path / "l1"))
    got = {}

    def load_l1():
        got["l1"] = eng.load_level1(path)

    def load_cal():
        got["cal"] = eng.load_calibrations(str(site / "cal.csv"))

    assert _jobs(spark, "load-l1", load_l1) == 0
    assert _jobs(spark, "load-cal", load_cal) == 1
    n = _jobs(spark, "l1-to-l2", lambda: eng.level1_to_level2(got["l1"], got["cal"]))
    assert 1 <= n <= 12, n


def test_load_level1_csv_matches_infer_schema(spark, l1, engine_l1, tmp_path):
    """The declared-type read of an engine-written L1 and L2 CSV gives
    the names, values and types ``inferSchema`` gives, except RECORD and
    Q, which the TOA5 rule reads as long where inference says int; the
    sink directory's name holds a space."""
    from cassandra_fs_pp_spark.plans.levels import load_level1_csv
    from cassandra_fs_pp_spark.sinks import write_csv_single

    eng, back, cal = engine_l1
    for name, df in (("l1", l1), ("l2", level1_to_level2(back, eng.config, cal))):
        path = str(tmp_path / f"{name} csv")
        write_csv_single(df, path)
        got = load_level1_csv(spark, path)
        want = spark.read.csv(
            path,
            header=True,
            inferSchema=True,
            nullValue="",
            timestampFormat="yyyy-MM-dd HH:mm:ss",
        )
        assert got.columns == want.columns
        widened = {c: "bigint" for c in ("RECORD", "Q") if c in want.columns}
        assert name == "l2" or "RECORD" in widened
        assert all(dict(want.dtypes)[c] == "int" for c in widened)
        assert got.dtypes == [(c, widened.get(c, d)) for c, d in want.dtypes]
        assert got.orderBy("TIMESTAMP").collect() == want.orderBy("TIMESTAMP").collect()


def test_load_level1_csv_fails_on_non_numeric(spark, tmp_path):
    """A value the declared double type cannot parse raises, instead of
    reading as NULL."""
    f = tmp_path / "l2.csv"
    f.write_text("TIMESTAMP,TCDT(m),note\n2024-01-01 00:00:00,1.5,ok\n")
    from cassandra_fs_pp_spark.plans.levels import load_level1_csv

    df = load_level1_csv(spark, str(f))
    assert df.dtypes == [
        ("TIMESTAMP", "timestamp"), ("TCDT(m)", "double"), ("note", "double")
    ]
    with pytest.raises(Exception, match="FAILFAST|MALFORMED"):
        df.collect()


@pytest.mark.parametrize(
    "text",
    [
        ",m,c,r2\nEC(1),2.0,0.5,0.99\nEC(2),4.0,1.5,0.9\n",
        ",c,m,r2\nEC(1),0.5,2.0,0.99\nEC(2),1.5,4.0,0.9\n",
        "sensor,r2,note,c,m\nEC(1),0.99,x,0.5,2.0\nEC(2),0.9,y,1.5,4.0\n",
    ],
    ids=["m-c", "c-m", "named-sensor-extra-columns"],
)
def test_load_calibrations_picks_columns_by_name(spark, tmp_path, text):
    """m and c are read by their header names, in any column order; the
    sensor is the first column."""
    f = tmp_path / "cal.csv"
    f.write_text(text)
    assert load_calibrations(spark, str(f)) == {
        "EC(1)": (2.0, 0.5), "EC(2)": (4.0, 1.5)
    }


@pytest.mark.parametrize(
    "header", [",c,r2", ",m,c,m,r2", ""], ids=["no-m", "two-m", "empty"]
)
def test_load_calibrations_rejects_a_bad_header(spark, tmp_path, header):
    f = tmp_path / "cal.csv"
    f.write_text(f"{header}\nEC(1),2.0,0.5,0.99\n")
    with pytest.raises(ValueError):
        load_calibrations(spark, str(f))


def test_toa5_malformed_rows_tolerated(spark, tmp_path):
    """Ragged data rows (fields missing or extra — logger glitches /
    truncated radio transfers): short rows null-fill the tail, long rows
    drop the surplus, the file keeps loading (PERMISSIVE parse — the
    reference's pandas read would need error_bad_lines handling)."""
    f = tmp_path / "glitch.dat"
    f.write_text(
        '"TOA5","FS1","CR1000X","1","prog","sig","t1","MainTable"\n'
        '"TIMESTAMP","RECORD","BattV","T107"\n'
        '"TS","RN","Volts","Deg C"\n'
        '"","","Min","Smp"\n'
        '"2024-01-01 00:00:00",1,13.1,-20.5\n'
        '"2024-01-01 00:15:00",2,13.0\n'              # short row
        '"2024-01-01 00:30:00",3,12.9,-20.1,99.9\n'   # extra field
        '"2024-01-01 00:45:00",4,NAN,-19.8\n'
    )
    df = read_toa5(spark, str(f), with_provenance=False)
    rows = {r["RECORD"]: r for r in df.orderBy("TIMESTAMP").collect()}
    assert len(rows) == 4
    assert rows[2]["T107"] is None          # short row null-filled
    assert rows[3]["T107"] == -20.1         # surplus field dropped
    assert rows[4]["BattV"] is None         # NAN sentinel
    assert df.columns == ["TIMESTAMP", "RECORD", "BattV", "T107"]
