"""The station generator: one seed gives byte-identical files, and the
files carry the FIXTURES.md §1-4 shapes the output checks rely on.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import csv
import os

import gen


def _tree(root) -> dict[str, bytes]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_same_seed_same_bytes(tmp_path):
    for writer in (gen.write_site, gen.write_fleet):
        a, b, c = (str(tmp_path / writer.__name__ / k) for k in "abc")
        writer(a, 7)
        writer(b, 7)
        writer(c, 8)
        ta, tb, tc = _tree(a), _tree(b), _tree(c)
        assert ta == tb
        assert ta.keys() == tc.keys() and ta != tc


def _rows(path):
    with open(path, newline="") as f:
        return list(csv.reader(f))


def test_site_shapes(tmp_path):
    t = gen.write_site(str(tmp_path), 3)
    field = os.path.join(t.root, "fielddata")
    bales = [os.path.join(field, f"MainTable{i}.dat") for i in range(1, 9)]
    serviced = os.path.join(field, "serviced", "MainTable_serviced.dat")
    files = [_rows(p) for p in bales + [serviced]]

    # 4-line header: environment, names, units, aggregation
    head = files[0][:4]
    assert head[0][0] == "TOA5" and head[1] == gen.COLUMNS
    assert len(head[2]) == len(head[3]) == len(gen.COLUMNS)

    data = [r for f in files for r in f[4:]]
    assert len(data) == t.l0_rows
    names = gen.COLUMNS
    col = {n: i for i, n in enumerate(names)}
    # NAN sentinels, and one column that is NAN everywhere
    assert all(r[col[gen.DEAD_COLUMN]] == "NAN" for r in data)
    assert any(r[col["DTC1(2)"]] == "NAN" for r in data)
    # exact duplicates across bales, and one conflicting timestamp
    assert len({tuple(r) for r in data}) < len(data)
    stamps = {r[0] for r in data}
    assert len(stamps) == len(t.grid)
    conflict = [r for r in data if r[0] == f"{t.conflict_ts:%Y-%m-%d %H:%M:%S}"]
    assert len({r[col["BattV_Min"]] for r in conflict}) == 2
    # bad and NULL quality flags; out-of-range values
    q = [r[col["Q"]] for r in data]
    assert "300" in q and "NAN" in q
    assert any(float(r[col["T107_C"]]) > 10 for r in data)
    # UDG spikes, a logged step and an auto-detected step
    assert any(float(r[col["TCDT"]]) > gen.INSTALL_HEIGHT + 2 for r in data)
    deltas = [d for _, d in t.events[1:]]
    assert deltas[0] is not None and None in deltas
    # chains, positions, and a calibration CSV missing one sensor
    pos = _rows(os.path.join(t.root, "DTC1_DiagSettings.dat"))
    assert pos[0][0] == "TOA5" and len(pos[4]) == 2 + gen.N_CHAIN
    ec_pos = _rows(os.path.join(t.root, "EC_1.65m.csv"))
    assert ec_pos[0] == ["SensorPosition(m)"] and len(ec_pos) == 1 + gen.N_CHAIN
    cal = {r[0] for r in _rows(t.calibration)[1:]}
    assert gen.MISSING_CAL_SENSOR not in cal and len(cal) == gen.N_CHAIN - 1
