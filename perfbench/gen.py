"""Seeded TOA5 station generator for the pipeline workloads.

Writes one firn station (or a fleet of them) in the layout the engine's
``SiteEngine`` / ``cli l1`` reads: a TOML site config, TOA5 logger bales
with the 4-line header, a ``serviced/`` file, the DTC positions file, the
EC positions CSV and an EC calibration CSV.  The files carry every
FIXTURES.md §1-4 shape:

* the 4-line TOA5 header (environment, names, units, aggregation);
* ``NAN`` sentinels and one all-NaN column (``TDR3_Period``);
* exact duplicate rows across overlapping bales, and one conflicting
  duplicate timestamp in a later bale;
* out-of-range values and bad or NULL ``Q`` flags;
* UDG spikes, a logged height-change step and an auto-detected one;
* DTC and EC chains, positions files, and a calibration CSV that is
  missing one sensor.

Each writer returns a :class:`Truth` record: the expectations the output
checks derive from the generator instead of from the engine.  The same
seed gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np

T0 = dt.datetime(2023, 1, 1)
N_CHAIN = 12
N_TDR = 3
DEAD_COLUMN = "TDR3_Period"
MISSING_CAL_SENSOR = "EC(7)"
INSTALL_HEIGHT = 2.06
TDR_INSTALL_DEPTHS = (-0.48, -0.98, -1.48)
REMOVE_COLUMNS = ("RECORD", "PTemp_C_Min", "DT")
SPIKE = 3.0  # metres added to TCDT at a spike; far above the 0.5 m gate
OVERLAP = 8  # rows each bale re-logs from the end of the one before

COLUMNS = (
    ["TIMESTAMP", "RECORD", "BattV_Min", "PTemp_C_Min", "T107_C", "TCDT", "Q", "DT"]
    + [
        f"TDR{i}_{k}"
        for i in range(1, N_TDR + 1)
        for k in ("VWC", "EC", "T", "Perm", "Period", "VR")
    ]
    + [f"DTC1({j})" for j in range(1, N_CHAIN + 1)]
    + [f"EC({j})" for j in range(1, N_CHAIN + 1)]
)
UNITS = {"TIMESTAMP": "TS", "RECORD": "RN", "BattV_Min": "Volts", "TCDT": "m", "Q": "unitless",
         "DT": "m", "VWC": "m3/m3", "EC": "dS/m", "Perm": "unitless", "Period": "uSec",
         "VR": "unitless"}


def _unit(name: str) -> str:
    if name.startswith("EC("):
        return "mV"
    return UNITS.get(name, UNITS.get(name.rsplit("_", 1)[-1], "Deg C"))


@dataclass
class Truth:
    """What a correct pipeline must produce for one station."""

    site: str
    root: str
    config: str
    calibration: str
    grid: np.ndarray  # datetime64[s] of every distinct timestamp
    l0_rows: int  # data rows over all files, duplicates included
    l0_bytes: int
    surface: np.ndarray  # true normalised UDG signal on ``grid``
    events: list = field(default_factory=list)  # (datetime, delta | None)
    conflict_ts: dt.datetime | None = None
    conflict_battv: float | None = None  # the earlier bale's value (kept)
    out_of_range: dict = field(default_factory=dict)  # column -> [datetime]
    ec_raw: dict = field(default_factory=dict)  # "EC(j)" -> raw mV as written, on grid
    calibrations: dict = field(default_factory=dict)  # "EC(j)" -> (m, c)


def _fmt(vals: np.ndarray, fmt: str) -> np.ndarray:
    out = np.char.mod(fmt, np.nan_to_num(vals, nan=0.0))
    return np.where(np.isnan(vals), "NAN", out)


def _toa5_text(names, cols: list[np.ndarray], station: str) -> str:
    header = [
        ",".join(
            f'"{x}"'
            for x in ("TOA5", station, "CR1000X", "8765", "CR1000X.Std.05",
                      "CPU:station.CR1X", "41377", "MainTable")
        ),
        ",".join(f'"{n}"' for n in names),
        ",".join(f'"{_unit(n)}"' for n in names),
        ",".join('""' if n in ("TIMESTAMP", "RECORD") else '"Smp"' for n in names),
    ]
    body = [",".join(r) for r in zip(*cols)]
    return "\n".join(header + body) + "\n"


def _write(path: str, text: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        f.write(text)
    return len(text.encode())


def _series(rng: np.random.Generator, n: int, step_s: int, events):
    """Raw column arrays for ``n`` grid rows plus the truth signals."""
    t_s = np.arange(n, dtype=np.int64) * step_s
    days = t_s / 86400.0
    surface = 0.03 * np.sin(2 * np.pi * days / 37.0) - 0.0004 * days
    surface = np.round(surface + rng.normal(0, 0.002, n), 4)
    cum_step = np.zeros(n)
    for when, step in events[1:]:
        cum_step[t_s >= when] += step
    tcdt = INSTALL_HEIGHT + cum_step + surface
    air = -20 + 8 * np.sin(2 * np.pi * days / 365.0) + rng.normal(0, 1.5, n)
    cols = {
        "BattV_Min": 12.8 + rng.normal(0, 0.2, n),
        "PTemp_C_Min": air + 2.0,
        "T107_C": air,
        "TCDT": tcdt,
        "Q": rng.integers(165, 196, n).astype(float),
        "DT": 1.9 + rng.normal(0, 0.01, n),
    }
    for i in range(1, N_TDR + 1):
        cols[f"TDR{i}_VWC"] = np.clip(0.05 * i + rng.normal(0, 0.01, n), 0.01, 0.9)
        cols[f"TDR{i}_EC"] = np.clip(0.2 * i + rng.normal(0, 0.02, n), 0.0, 7.0)
        cols[f"TDR{i}_T"] = -8.0 - i + rng.normal(0, 0.3, n)
        cols[f"TDR{i}_Perm"] = 3.2 + 0.1 * i + rng.normal(0, 0.05, n)
        cols[f"TDR{i}_Period"] = 1.05 + rng.normal(0, 0.005, n)
        cols[f"TDR{i}_VR"] = 1.0 + rng.normal(0, 0.002, n)
    cols[DEAD_COLUMN][:] = np.nan
    for j in range(1, N_CHAIN + 1):
        cols[f"DTC1({j})"] = -14.0 + j + rng.normal(0, 0.2, n)
        cols[f"EC({j})"] = 0.6 + 0.025 * j + rng.normal(0, 0.005, n)
    return cols, surface


def write_station(
    root: str,
    rng: np.random.Generator,
    *,
    site: str,
    days: int,
    step_s: int,
    n_bales: int,
    n_events: int,
    serviced: bool,
) -> Truth:
    """Write one station under ``root`` and return its :class:`Truth`.

    ``n_events`` counts the height-change events after the install one:
    the first of them has a logged delta, the rest are auto-detected.
    """
    n = days * 86400 // step_s
    # install event at the series start, then steps spread evenly (the
    # fleet path refuses auto-detected steps <= 2 days apart), each with
    # its +/- 1 day median windows clear of the series ends
    span_s = n * step_s
    events = [(0, INSTALL_HEIGHT)]
    for k in range(n_events):
        base = span_s * (k + 1) / (n_events + 1)
        when = int(base // 3600 + rng.integers(-6, 7)) * 3600
        events.append((when, round(float(rng.choice([-1, 1]) * rng.uniform(0.2, 0.4)), 2)))
    cols, surface = _series(rng, n, step_s, events)

    # sparse faults: spikes, bad and NULL Q, out-of-range values, NaNs
    def pick(k):
        return rng.choice(np.arange(50, n - 50), size=k, replace=False)

    cols["TCDT"][pick(max(3, n // 2000))] += SPIKE
    cols["Q"][pick(max(2, n // 3000))] = 300.0
    cols["Q"][pick(max(2, n // 3000))] = np.nan
    out_of_range = {"T107_C": (pick(3), 55.0), "EC(3)": (pick(3), 0.2),
                    "TDR1_VWC": (pick(2), 1.5)}
    for c, (idx, v) in out_of_range.items():
        cols[c][idx] = v
    for j in (2, 9):
        cols[f"DTC1({j})"][pick(max(2, n // 1500))] = np.nan

    grid = np.datetime64(T0, "s") + np.arange(n) * np.timedelta64(step_s, "s")
    # a short logger outage: rows missing from every file
    gap = int(rng.integers(n // 3, n // 2))
    keep = np.ones(n, bool)
    keep[gap:gap + 5] = False

    stamp = np.datetime_as_string(grid, unit="s")
    text = {"TIMESTAMP": np.char.add(np.char.add('"', np.char.replace(stamp, "T", " ")), '"'),
            "RECORD": np.arange(n).astype(str)}
    for c in COLUMNS[2:]:
        text[c] = _fmt(cols[c], "%.0f" if c == "Q" else "%.4f")
    idx = np.flatnonzero(keep)

    # bales: contiguous chunks, each re-logging the previous bale's tail
    # (exact duplicates); the last chunk goes to the serviced file
    n_files = n_bales + (1 if serviced else 0)
    edges = np.linspace(0, len(idx), n_files + 1).astype(int)
    station_dir = os.path.join(root, site)
    paths = [os.path.join(station_dir, "fielddata", f"MainTable{b + 1}.dat")
             for b in range(n_bales)]
    if serviced:
        paths.append(os.path.join(station_dir, "fielddata", "serviced",
                                  "MainTable_serviced.dat"))
    l0_rows = l0_bytes = 0
    conflict_ts = conflict_battv = None
    for b, path in enumerate(paths):
        rows = idx[max(0, edges[b] - OVERLAP):edges[b + 1]]
        file_cols = [text[c][rows] for c in COLUMNS]
        if b == 2:
            # conflicting duplicate: a timestamp bale 2 already logged,
            # re-logged here with a different battery value and record
            i = idx[(edges[1] + edges[2]) // 2]
            conflict_ts = grid[i].astype(dt.datetime)
            conflict_battv = float(text["BattV_Min"][i])
            extra = [text[c][[i]] for c in COLUMNS]
            extra[COLUMNS.index("RECORD")] = np.array([str(10_000_000 + i)])
            extra[COLUMNS.index("BattV_Min")] = np.array(["99.0000"])
            file_cols = [np.concatenate([a, e]) for a, e in zip(file_cols, extra)]
        l0_rows += len(file_cols[0])
        l0_bytes += _write(path, _toa5_text(COLUMNS, file_cols, site))

    # chain geometry and calibration dimensions
    pos_names = ["TIMESTAMP", "RECORD"] + [
        f"DTC1_SensorPositions({j})" for j in range(1, N_CHAIN + 1)]
    pos_vals = [np.array([f'"{T0:%Y-%m-%d %H:%M:%S}"']), np.array(["0"])] + [
        np.array([f"{150 * (j - 1)}"]) for j in range(1, N_CHAIN + 1)]
    _write(os.path.join(station_dir, "DTC1_DiagSettings.dat"),
           _toa5_text(pos_names, pos_vals, site))
    _write(os.path.join(station_dir, "EC_1.65m.csv"),
           "SensorPosition(m)\n" + "".join(f"{150 * j}\n" for j in range(N_CHAIN)))
    calibrations = {}
    lines = [",m,c,r2"]
    for j in range(1, N_CHAIN + 1):
        name = f"EC({j})"
        if name == MISSING_CAL_SENSOR:
            continue
        m, c = round(float(rng.uniform(385, 869)), 3), round(float(rng.uniform(0, 5)), 3)
        calibrations[name] = (m, c)
        lines.append(f"{name},{m},{c},{rng.uniform(0.95, 1):.4f}")
    calibration = os.path.join(station_dir, "calibration_coefficients.csv")
    _write(calibration, "\n".join(lines) + "\n")

    def when(s):
        return T0 + dt.timedelta(seconds=int(s))

    ev_toml = [f"[{T0:%Y-%m-%d}, {INSTALL_HEIGHT}]"]
    truth_events = [(T0, INSTALL_HEIGHT)]
    for k, (s, step) in enumerate(events[1:]):
        d = when(s)
        logged = k == 0
        ev_toml.append(f"[{d:%Y-%m-%dT%H:%M:%S}, {step}]" if logged
                       else f"[{d:%Y-%m-%dT%H:%M:%S}]")
        truth_events.append((d, step if logged else None))
    tdr = "\n".join(f"{i}=[{T0:%Y-%m-%d}, {d}, false]"
                    for i, d in enumerate(TDR_INSTALL_DEPTHS, 1))
    config = os.path.join(station_dir, f"{site}.toml")
    _write(config, f"""site="{site}"
tz='UTC'
lat={rng.uniform(66, 68):.4f}
lon={rng.uniform(-50, -47):.4f}
[level0_1]
index_col='TIMESTAMP'
udg_key='TCDT'
[level1_2]
udg_height_change=[{", ".join(ev_toml)}]
remove_columns={list(REMOVE_COLUMNS)!r}
[level1_2.tdr_info]
{tdr}
[level1_2.dtc_info]
1=[{T0:%Y-%m-%d}, "DTC1_DiagSettings.dat", 1, -0.17]
[level1_2.ec_info]
1=[{T0:%Y-%m-%d}, "EC_1.65m.csv", 1, -0.16]
[level0]
[level0.fielddata]
subpath=""
type="bales"
bales_start=1
bales_stop={n_bales}
""")

    return Truth(
        site=site,
        root=station_dir,
        config=config,
        calibration=calibration,
        grid=grid[keep],
        l0_rows=l0_rows,
        l0_bytes=l0_bytes,
        surface=surface[keep],
        events=truth_events,
        conflict_ts=conflict_ts,
        conflict_battv=conflict_battv,
        out_of_range={c: [grid[i].astype(dt.datetime) for i in idx_ if keep[i]]
                      for c, (idx_, _) in out_of_range.items()},
        ec_raw={f"EC({j})": text[f"EC({j})"][keep].astype(float) for j in range(1, N_CHAIN + 1)},
        calibrations=calibrations,
    )


# Sizes of the two pipeline workloads.  Row counts do not depend on the
# seed, so every seed measures the same amount of work.
SITE = dict(days=14, step_s=900, n_bales=8, n_events=2, serviced=True)
FLEET_STATIONS = 4
FLEET_DAYS = (10, 14, 7)


def write_site(root: str, seed: int) -> Truth:
    rng = np.random.default_rng([seed, 1])
    return write_station(root, rng, site="FS1", **SITE)


def write_fleet(root: str, seed: int) -> list[Truth]:
    rng = np.random.default_rng([seed, 2])
    return [
        write_station(
            root,
            rng,
            site=f"FL{k:02d}",
            days=FLEET_DAYS[k % len(FLEET_DAYS)],
            step_s=900 if k % 2 == 0 else 3600,
            n_bales=4,
            n_events=1 + k % 2,
            serviced=False,
        )
        for k in range(FLEET_STATIONS)
    ]
