"""Multi-site fleet pipeline: N stations through one partitioned lineage.

The reference processes one station per run (``bin/fs_process_l2.py``).
The engine's fleet path must (a) produce per-site results identical to
running each station alone, and to a pandas re-statement of the
reference's height-change loop, and (b) contain NO unpartitioned window
or global grid — every Window node partitions by site, so the plan
scales with the number of stations (the "designed for 100 TB" claim
cashed out on the reference's own workload).
"""

from __future__ import annotations

import datetime as dt
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cassandra_fs_pp_spark.config import SiteConfig
from cassandra_fs_pp_spark.plans.levels import (
    fleet_level1_to_level2,
    fleet_normalise_udg,
    filter_udg,
    level1_to_level2,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)

# per-site: (sampling step, value offset, height-change events)
SITES = {
    "FS_A": (900, 0.0, [[T0, 1.0]]),                       # install only
    "FS_B": (1800, 0.35, [[T0, 1.2], [T0 + dt.timedelta(days=3)]]),  # +auto
    "FS_C": (900, -0.2, [[T0, 0.8], [T0 + dt.timedelta(days=3), -0.31]]),
}
N_DAYS = 6


def _site_frame(step_s: int, offset: float, events) -> pd.DataFrame:
    n = N_DAYS * 86400 // step_s
    ts, tcdt, q, t107, ec = [], [], [], [], []
    jump_at = events[1][0] if len(events) > 1 else None
    for i in range(n):
        t = T0 + dt.timedelta(seconds=i * step_s)
        ts.append(t)
        base = 2.0 + offset if (jump_at is None or t < jump_at) else 1.76 + offset
        # one spike to exercise the despike filter, one bad-quality point
        tcdt.append(5.0 if i == 30 else base + (0.01 * (i % 3)))
        q.append(300 if i == 40 else 180)
        t107.append(50.0 if i == 25 else -20.0 - (i % 5))  # i==25 out of range
        ec.append(0.4 + 0.001 * (i % 7))
    return pd.DataFrame(
        {"TIMESTAMP": ts, "TCDT": tcdt, "Q": q, "T107_C": t107, "EC(1)": ec}
    )


def _cfg(site: str, events) -> SiteConfig:
    return SiteConfig(
        site=site,
        raw={
            "site": site,
            "level0_1": {"index_col": "TIMESTAMP"},
            "level1_2": {
                "udg_height_change": [
                    [e[0], e[1]] if len(e) > 1 else [e[0]] for e in events
                ],
                "remove_columns": [],
            },
        },
    )


CALIB = {"EC(1)": (2.0, 0.1)}


@pytest.fixture(scope="module")
def fleet_l1(spark):
    frames = []
    for site, (step, off, events) in SITES.items():
        pdf = _site_frame(step, off, events)
        sdf = spark.createDataFrame(pdf).withColumn("site", F.lit(site))
        frames.append(sdf)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def test_fleet_matches_per_site_pipeline(spark, fleet_l1):
    """fleet_level1_to_level2 over 3 sites == level1_to_level2 per site."""
    events_by_site = {s: ev for s, (_, _, ev) in SITES.items()}
    fleet = fleet_level1_to_level2(
        fleet_l1,
        _cfg("FLEET", []),
        events_by_site,
        CALIB,
    )
    got = {
        (r["site"], r["TIMESTAMP"]): r.asDict()
        for r in fleet.collect()
    }

    n_rows = 0
    for site, (step, off, events) in SITES.items():
        single = level1_to_level2(
            fleet_l1.filter(F.col("site") == site).drop("site"),
            _cfg(site, events),
            CALIB,
        )
        for r in single.collect():
            n_rows += 1
            key = (site, r["TIMESTAMP"])
            assert key in got, f"fleet missing {key}"
            frow = got[key]
            for c, v in r.asDict().items():
                fv = frow[c]
                if isinstance(v, float):
                    assert fv == pytest.approx(v, abs=1e-9), (key, c, v, fv)
                else:
                    assert fv == v, (key, c, v, fv)
    assert n_rows == len(got)


def _reference_normalise(series: pd.Series, events) -> pd.Series:
    """The reference's sequential height-change loop (``fs_pp.py:452-511``)
    re-stated in pandas: events apply in list order, and an auto delta
    comes from 2dp-rounded medians of the series with every earlier
    offset already applied."""
    s = series.astype(float).copy()
    for ev in events:
        date = pd.Timestamp(ev[0])
        if len(ev) == 2:
            delta = ev[1]
        else:
            pre = s[date - pd.Timedelta(days=1) : date - pd.Timedelta(hours=4)]
            post = s[date : date + pd.Timedelta(days=1)]
            delta = round(round(post.median(), 2) - round(pre.median(), 2), 2)
        s[s.index >= date] -= delta
    return s


def _assert_normalise_matches_reference(fleet, pdfs, events_by_site):
    got = {(r["site"], r["TIMESTAMP"]): r["TCDT"] for r in fleet.collect()}
    n = 0
    for site, pdf in pdfs.items():
        want = _reference_normalise(
            pdf.set_index("TIMESTAMP")["TCDT"], events_by_site[site]
        )
        for ts, v in want.items():
            n += 1
            assert got[(site, ts.to_pydatetime())] == pytest.approx(
                v, abs=1e-12
            ), (site, ts)
    assert n == len(got)


def test_fleet_normalise_matches_sequential(spark, fleet_l1):
    """The one-pass fleet delta aggregation reproduces the reference's
    sequential per-site recurrence (incl. the auto-derived delta at FS_B)."""
    events_by_site = {s: ev for s, (_, _, ev) in SITES.items()}
    fleet, _ = fleet_normalise_udg(fleet_l1, events_by_site)
    pdfs = {s: _site_frame(*spec) for s, spec in SITES.items()}
    _assert_normalise_matches_reference(fleet, pdfs, events_by_site)


DAY = dt.timedelta(days=1)


def test_local_table_propagates_other_errors(spark, monkeypatch):
    """``local_table`` falls back to pickled rows on a ValueError or
    TypeError from the pandas route only; any other exception propagates
    instead of being logged away."""
    from cassandra_fs_pp_spark import session

    def broken(schema):
        raise RuntimeError("not a conversion refusal")

    monkeypatch.setattr(session, "_split_ddl", broken)
    with pytest.raises(RuntimeError, match="not a conversion refusal"):
        session.local_table(spark, [("a", 1)], "s string, k int")


def test_fleet_normalise_64_sites_one_collect(spark, monkeypatch):
    """64 stations with one explicit and two auto height-change events
    each: every site equals the reference's sequential loop, and all 128
    auto-event medians and the 64 dominant steps come back in ONE
    collect."""
    n_sites, step_s = 64, 3600
    ev1, ev2 = T0 + 3 * DAY, T0 + 6 * DAY
    pdfs, events_by_site, frames = {}, {}, []
    for i in range(n_sites):
        site = f"S{i:02d}"
        ts = [T0 + dt.timedelta(seconds=k * step_s) for k in range(9 * 24)]
        vals = [
            2.0 + 0.01 * i + 0.01 * (k % 3)
            - (0.2 + 0.01 * (i % 5) if t >= ev1 else 0.0)
            - (0.1 + 0.01 * (i % 7) if t >= ev2 else 0.0)
            for k, t in enumerate(ts)
        ]
        pdfs[site] = pd.DataFrame({"TIMESTAMP": ts, "TCDT": vals})
        events_by_site[site] = [[T0, 1.0 + 0.1 * (i % 4)], [ev1], [ev2]]
        frames.append(pdfs[site].assign(site=site))
    l1 = spark.createDataFrame(pd.concat(frames, ignore_index=True))

    df_cls = type(l1)  # the classic DataFrame class, not the pyspark.sql ABC
    real_collect = df_cls.collect
    calls: list[int] = []

    def spy(self):
        rows = real_collect(self)
        calls.append(len(rows))
        return rows

    monkeypatch.setattr(df_cls, "collect", spy)
    fleet, _ = fleet_normalise_udg(l1, events_by_site)
    monkeypatch.setattr(df_cls, "collect", real_collect)
    # the medians, two per site, and each site's dominant step
    assert calls == [3 * n_sites], calls
    _assert_normalise_matches_reference(fleet, pdfs, events_by_site)


def _stepped_frame() -> pd.DataFrame:
    """Hourly TCDT over 6 days with jumps at days 2, 3 and 4 and a small
    3-hour ripple (no median lands on a rounding tie)."""
    ts = [T0 + dt.timedelta(hours=h) for h in range(6 * 24)]
    tcdt = [
        2.0 + 0.3 * (t >= T0 + 2 * DAY) - 0.2 * (t >= T0 + 3 * DAY)
        + 0.45 * (t >= T0 + 4 * DAY) + 0.01 * (i % 3)
        for i, t in enumerate(ts)
    ]
    return pd.DataFrame({"TIMESTAMP": ts, "TCDT": tcdt})


def _ok(events):
    return pytest.param(events, True, id="matches")


def _raises(events):
    return pytest.param(events, False, id="raises")


@pytest.mark.parametrize(
    "events, ok",
    [
        # an auto event needs every earlier-listed event at or before its
        # date - 1 day: the TOA5 fixture's 1.5-day step, the bound itself,
        # then closer ones
        _ok([[T0 + 1.5 * DAY, 1.0], [T0 + 3 * DAY]]),
        _ok([[T0 + 2 * DAY, 1.0], [T0 + 3 * DAY]]),
        _raises([[T0 + 2 * DAY + dt.timedelta(hours=1), 1.0], [T0 + 3 * DAY]]),
        _raises([[T0 + 3 * DAY - dt.timedelta(hours=2), 1.0], [T0 + 3 * DAY]]),
        # listed out of date order: the raw-median shortcut holds when every
        # earlier-listed event is >= 1 day before the auto event ...
        _ok([[T0 + 2 * DAY, 1.0], [T0, 0.5], [T0 + 4 * DAY]]),
        _ok([[T0, 1.0], [T0 + 2 * DAY, 0.2], [T0 + DAY, -0.1], [T0 + 4 * DAY]]),
        # ... and not when one is later (even past the auto event's
        # windows: its delta is then not in their offset)
        _raises([[T0, 1.0], [T0 + 4 * DAY, 0.2], [T0 + 2 * DAY]]),
        _raises([[T0 + 4 * DAY, 1.0], [T0 + 2 * DAY]]),
        _raises([[T0, 1.0], [T0 + 5 * DAY, 0.2], [T0 + 3 * DAY, -0.1], [T0 + 2 * DAY]]),
    ],
)
def test_fleet_normalise_event_spacing_and_order(spark, events, ok):
    """An event list either matches the reference recurrence or raises;
    it never returns a delta taken across an earlier step."""
    pdf = _stepped_frame()
    sdf = spark.createDataFrame(pdf).withColumn("site", F.lit("S"))
    if not ok:
        with pytest.raises(ValueError, match="at least 1 day before it"):
            fleet_normalise_udg(sdf, {"S": events})
        return
    fleet, _ = fleet_normalise_udg(sdf, {"S": events})
    _assert_normalise_matches_reference(fleet, {"S": pdf}, {"S": events})


def test_udg_event_dims_local_table(spark, fleet_l1):
    """r18 (VERDICT r17 item 8): the driver-resident UDG event dimension
    tables (the medians probe table and the per-site delta array) must
    plan as pure-JVM LocalTableScan, never as a pickled-row ExistingRDD
    whose every broadcast build spins Python workers.  Value equality
    with the old route is pinned by the sequential differentials above
    (timestamps land as session-tz UTC on both routes)."""
    events_by_site = {s: ev for s, (_, _, ev) in SITES.items()}
    fleet, _ = fleet_normalise_udg(fleet_l1, events_by_site)
    plan = fleet._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


def _formatted_plan(df) -> str:
    jqe = df._jdf.queryExecution()
    spark = df.sparkSession
    return jqe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_fleet_plan_has_no_unpartitioned_window(spark, fleet_l1):
    """Every Window node in the fleet plan partitions by site — no global
    sort, no single-partition window, whatever the station count."""
    events_by_site = {s: ev for s, (_, _, ev) in SITES.items()}
    fleet = fleet_level1_to_level2(
        fleet_l1, _cfg("FLEET", []), events_by_site, CALIB
    )
    plan = _formatted_plan(fleet)
    # node details are "(NN) Window\n...\nArguments: [...], [partition], [sort]"
    # blocks separated by blank lines
    windows = [
        blk
        for blk in plan.split("\n\n")
        if re.match(r"\(\d+\) Window\b", blk)
    ]
    assert windows, "expected Window nodes in the fleet plan"
    for body in windows:
        arg_line = next(
            (ln for ln in body.splitlines() if ln.startswith("Arguments:")), ""
        )
        assert re.search(r"\[site#\d+[L]?\]", arg_line), (
            f"unpartitioned window:\n{arg_line}"
        )
    # and no single-partition exchange anywhere in the pipeline
    assert "SinglePartition" not in plan, plan


def test_fleet_tdr_depth_matches_per_site(spark):
    """fleet_calc_depth_tdr over two sites == calc_depth_tdr on each site
    alone: the at-install window and the ratchet stay within a site."""
    from cassandra_fs_pp_spark.plans.levels import (
        calc_depth_tdr,
        fleet_calc_depth_tdr,
    )

    rows = []
    for s in ("A", "B"):
        off = 0.3 if s == "B" else 0.0
        for i in range(60):
            # triangular surface with a melt-out dip
            base = (i % 20) * 0.05 if (i % 40) < 20 else (20 - i % 20) * 0.05
            rows.append(
                (s, T0 + i * dt.timedelta(hours=6), base + off)
            )
    df = spark.createDataFrame(rows, "site string, TIMESTAMP timestamp, TCDT double")

    fleet = fleet_calc_depth_tdr(df, T0, -0.4)
    got = {(r["site"], r["TIMESTAMP"]): r["depth"] for r in fleet.collect()}
    n = 0
    for s in ("A", "B"):
        single = calc_depth_tdr(
            df.filter(F.col("site") == s).drop("site"), T0, -0.4
        )
        for r in single.collect():
            n += 1
            assert got[(s, r["TIMESTAMP"])] == pytest.approx(
                r["depth"], abs=1e-12
            )
    assert n == len(got) == 120


def test_udg_event_dims_tz_independent(spark, fleet_l1, monkeypatch):
    """ADVICE r18: on a non-UTC host the Arrow route and the pickled-row
    fallback of ``local_table`` must land the configured event dates on the
    same UTC instants, so the normalised series cannot depend on which
    route ran."""
    import os
    import time

    from cassandra_fs_pp_spark import session

    events_by_site = {s: ev for s, (_, _, ev) in SITES.items()}
    real = session.local_table
    dims: list = []

    def spy(spark_, rows, schema):
        df = real(spark_, rows, schema)
        dims.append(df)
        return df

    def refuse(schema):
        raise ValueError("force the pickled-row route")

    def run():
        dims.clear()
        out, _ = fleet_normalise_udg(fleet_l1, events_by_site)
        plans = [d._jdf.queryExecution().executedPlan().toString() for d in dims]
        # casts render in the session time zone (UTC), not the host's
        got = sorted(
            out.select("site", F.col("TIMESTAMP").cast("string"), "TCDT").collect()
        )
        ev = sorted(
            r[0] for d in dims for r in d.select(F.to_json(F.struct("*"))).collect()
        )
        return plans, ev, got

    monkeypatch.setattr(session, "local_table", spy)
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/Nuuk"
    time.tzset()
    try:
        arrow_plans, arrow_ev, arrow = run()
        monkeypatch.setattr(session, "_split_ddl", refuse)
        pickled_plans, pickled_ev, pickled = run()
    finally:
        if old_tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old_tz
        time.tzset()

    assert len(arrow_plans) == len(pickled_plans) == 2
    assert all("LocalTableScan" in p for p in arrow_plans), arrow_plans
    assert all("ExistingRDD" in p for p in pickled_plans), pickled_plans
    assert arrow_ev == pickled_ev
    # the auto event's date, as configured (naive = UTC)
    assert any('"__date":"2024-01-04T00:00:00.000Z"' in e for e in arrow_ev), arrow_ev
    assert arrow == pickled
