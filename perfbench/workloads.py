"""The three workloads: what one pass runs, and the checks on its outputs.

Every pass drives the engine only through its public entry points, in the
order ``cli l1`` then ``cli l2`` call them, and adds no cache, persist or
repartition of its own.  Each timed call runs inside a tracer span named
after the layer it enters.  The checks run outside the timed passes and
return a list of problems (empty when the outputs are right).
"""

from __future__ import annotations

import datetime as dt
import decimal
import glob
import hashlib
import json
import math
import os

import numpy as np

import gen
from spans import mark, split

TIME = "TIMESTAMP"
UDG_L2 = "TCDT(m)"


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(path, "**"), recursive=True)
        if os.path.isfile(p)
    )


# --------------------------------------------------------------------------- #
# site_l0_l2
# --------------------------------------------------------------------------- #


class Site:
    name = "site_l0_l2"
    warm = True  # measured on warm passes: see run.Run.measured_passes
    reads_l0 = True

    def __init__(self, spark, data_dir: str, seed: int):
        self.spark = spark
        self.truth = gen.write_site(data_dir, seed)
        self.input_rows = self.truth.l0_rows
        self.input_bytes = self.truth.l0_bytes

    def run_pass(self, tr, out: str) -> dict[str, float]:
        from cassandra_fs_pp_spark import sinks
        from cassandra_fs_pp_spark.engine import SiteEngine

        t = self.truth
        paths = self.paths(out)
        t0 = mark()
        with tr.span("levels.level0_to_level1"):
            eng = SiteEngine(self.spark, t.config, t.root)
            l1 = eng.level0_to_level1()
        with tr.span("sinks.write_csv_single.l1"):
            eng.write_l1(l1, paths["l1"])
        t1 = mark()
        with tr.span("levels.load_level1_csv"):
            l1 = eng.load_level1(paths["l1"])
        with tr.span("levels.load_calibrations"):
            cal = eng.load_calibrations(t.calibration)
        with tr.span("levels.level1_to_level2"):
            l2 = eng.level1_to_level2(l1, cal)
        with tr.span("sinks.write_csv_single.l2"):
            eng.write_l2_csv(l2, paths["l2"])
        with tr.span("sinks.to_netcdf"):
            eng.to_netcdf(l2, paths["nc"])
        with tr.span("levels.calc_depth_tdr"):
            date, depth, _ = eng.config.tdr_info["1"]
            udg = eng.load_level1(paths["l2"]).select(TIME, UDG_L2)
            d = eng.calc_depth_tdr(udg, date, depth, udg_col=UDG_L2)
            sinks.write_parquet(d, paths["depth"])
        t2 = mark()
        return split(t0, t1, t2)

    @staticmethod
    def paths(out: str) -> dict[str, str]:
        return {
            "l1": os.path.join(out, "level_1", "FS1_l1.csv"),
            "l2": os.path.join(out, "level_2", "FS1_l2.csv"),
            "nc": os.path.join(out, "level_2", "FS1_l2.nc"),
            "depth": os.path.join(out, "level_2", "FS1_depth_tdr1.parquet"),
        }

    def l1_bytes(self, out: str) -> int:
        return _dir_bytes(self.paths(out)["l1"])

    def check(self, out: str) -> tuple[int, list[str]]:
        """(checks attempted, problems) for one pass's products."""
        import pandas as pd

        from cassandra_fs_pp_spark.config import DEFAULT_VALID_RANGES
        from cassandra_fs_pp_spark.netcdf3 import read_netcdf3
        from cassandra_fs_pp_spark.sinks import FILL_VALUE

        t, p = self.truth, self.paths(out)
        problems: list[str] = []
        l1 = pd.read_csv(glob.glob(os.path.join(p["l1"], "part-*"))[0])
        l2 = pd.read_csv(glob.glob(os.path.join(p["l2"], "part-*"))[0])
        for frame in (l1, l2):
            frame[TIME] = pd.to_datetime(frame[TIME])
        grid = pd.DatetimeIndex(t.grid)

        # L1: one row per distinct timestamp, keep-first, all-NaN pruned
        if len(l1) != len(grid) or not np.array_equal(l1[TIME].to_numpy("datetime64[s]"), t.grid):
            problems.append(f"L1 rows {len(l1)} != distinct timestamps {len(grid)}")
        kept = l1.loc[l1[TIME] == t.conflict_ts, "BattV_Min"].tolist()
        if kept != [t.conflict_battv]:
            problems.append(f"keep-first: BattV at {t.conflict_ts} is {kept}, "
                            f"expected the earlier bale's {t.conflict_battv}")
        if gen.DEAD_COLUMN in l1.columns:
            problems.append(f"all-NaN column {gen.DEAD_COLUMN} not pruned")

        # L2: normalised UDG ~ the true surface signal after every step
        if len(l2) != len(grid):
            problems.append(f"L2 rows {len(l2)} != {len(grid)}")
        l2 = l2.set_index(TIME).reindex(grid)
        resid = l2[UDG_L2] - pd.Series(t.surface, index=grid)
        for when, _ in t.events:
            day = resid[(resid.index >= when) & (resid.index <= when + dt.timedelta(days=1))]
            if not abs(day.median()) <= 0.03:
                problems.append(f"UDG after the step at {when}: median residual {day.median()}")
        spikes = (l2[UDG_L2] - pd.Series(t.surface, index=grid)).abs() > 1.0
        if spikes.any():
            problems.append(f"{int(spikes.sum())} UDG spikes survived the filter")

        # L2: EC = m*(1-mv)+c, with the mean coefficients for the missing
        # sensor, and null where the raw millivolts are out of range
        cal = t.calibrations
        mean = tuple(np.mean([v[k] for v in cal.values()]) for k in (0, 1))
        lo, hi = DEFAULT_VALID_RANGES["EC"]
        for col, raw in t.ec_raw.items():
            m, c = cal.get(col, mean)
            want = np.where((raw < lo) | (raw > hi), np.nan, m * (1 - raw) + c)
            ok = np.isclose(l2[col].to_numpy(), want, rtol=1e-9, atol=1e-9, equal_nan=True)
            if not ok.all():
                problems.append(f"{col}: {int((~ok).sum())} calibrated values differ")

        # L2: out-of-range values are null
        renamed = {"T107_C": "T107_C", "EC(3)": "EC(3)", "TDR1_VWC": "TDR1_VWC(m3/m3)"}
        for col, stamps in t.out_of_range.items():
            vals = l2.loc[pd.DatetimeIndex(stamps), renamed[col]]
            if vals.notna().any():
                problems.append(f"{col}: out-of-range values not nulled")

        # NetCDF round-trip: same rows, fill value where L2 is null
        _, _, variables = read_netcdf3(p["nc"])
        nc = {v.name: v for v in variables}
        if len(nc["time"].data) != len(grid):
            problems.append(f"NetCDF has {len(nc['time'].data)} records, expected {len(grid)}")
        else:
            var = nc[UDG_L2]
            fill = var.attrs.get("_FillValue")
            nulls = l2[UDG_L2].isna().to_numpy()
            if fill != FILL_VALUE or not np.array_equal(np.asarray(var.data) == fill, nulls):
                problems.append("NetCDF fill values do not match the L2 nulls")

        depth = pd.read_parquet(p["depth"])
        if len(depth) == 0 or (depth["depth"] > 0).any():
            problems.append("TDR depth empty or above the surface")
        return 9, problems


# --------------------------------------------------------------------------- #
# fleet_l0_l2
# --------------------------------------------------------------------------- #


class Fleet:
    name = "fleet_l0_l2"
    warm = False
    reads_l0 = True

    def __init__(self, spark, data_dir: str, seed: int):
        self.spark = spark
        self.truths = gen.write_fleet(data_dir, seed)
        self.input_rows = sum(t.l0_rows for t in self.truths)
        self.input_bytes = sum(t.l0_bytes for t in self.truths)

    @staticmethod
    def paths(out: str) -> dict[str, str]:
        return {
            "l1": os.path.join(out, "level_1.parquet"),
            "l2": os.path.join(out, "level_2.parquet"),
            "depth": os.path.join(out, "depth_tdr1.parquet"),
        }

    def run_pass(self, tr, out: str) -> dict[str, float]:
        from pyspark.sql import functions as F

        from cassandra_fs_pp_spark import sinks
        from cassandra_fs_pp_spark.engine import SiteEngine
        from cassandra_fs_pp_spark.plans import levels

        paths = self.paths(out)
        t0 = mark()
        with tr.span("levels.level0_to_level1"):
            engines = [SiteEngine(self.spark, t.config, t.root) for t in self.truths]
            frames = [
                e.level0_to_level1().withColumn("site", F.lit(e.config.site))
                for e in engines
            ]
            l1 = frames[0]
            for f in frames[1:]:
                l1 = l1.unionByName(f)
        with tr.span("sinks.write_parquet.l1"):
            sinks.write_parquet(l1, paths["l1"], partition_by=["site"])
        t1 = mark()
        with tr.span("levels.load_calibrations"):
            cal = levels.load_calibrations(self.spark, self.truths[0].calibration)
        with tr.span("levels.fleet_level1_to_level2"):
            events = {e.config.site: e.config.udg_height_changes for e in engines}
            l1 = self.spark.read.parquet(paths["l1"])
            l2 = levels.fleet_level1_to_level2(l1, engines[0].config, events, cal)
        with tr.span("sinks.write_parquet.l2"):
            sinks.write_parquet(l2, paths["l2"], partition_by=["site"])
        with tr.span("levels.fleet_calc_depth_tdr"):
            date, depth, _ = engines[0].config.tdr_info["1"]
            udg = self.spark.read.parquet(paths["l2"]).select("site", TIME, UDG_L2)
            d = levels.fleet_calc_depth_tdr(udg, date, depth, udg_col=UDG_L2)
            sinks.write_parquet(d, paths["depth"], partition_by=["site"])
        t2 = mark()
        return split(t0, t1, t2)

    def l1_bytes(self, out: str) -> int:
        return _dir_bytes(self.paths(out)["l1"])

    def check(self, out: str) -> tuple[int, list[str]]:
        import pandas as pd

        p = self.paths(out)
        problems: list[str] = []
        want = {t.site: len(t.grid) for t in self.truths}
        for level in ("l1", "l2"):
            df = pd.read_parquet(p[level], columns=["site", TIME])
            got = df.groupby("site", observed=True)[TIME].nunique().to_dict()
            rows = df.groupby("site", observed=True).size().to_dict()
            if {str(k): v for k, v in got.items()} != want or got != rows:
                problems.append(f"{level} per-site rows {rows} != {want}")
        depth = pd.read_parquet(p["depth"])
        if len(depth) == 0 or (depth["depth"] > 0).any():
            problems.append("fleet TDR depth empty or above the surface")
        if depth["site"].astype(str).nunique() != len(want):
            problems.append("fleet depth is missing sites")
        return 3, problems


# --------------------------------------------------------------------------- #
# registry_suite
# --------------------------------------------------------------------------- #

# Query families for the per-family rollup; ``ts`` is the time-series
# family (flagship, p3, a8, w1, j1, j4, p, w, a, j).
FAMILIES = ("tpch", "ts", "dedup", "ann", "emb", "curation", "text",
            "graph", "geo", "fuzzy")


def family(query: str) -> str:
    head = query.split("_", 1)[0]
    return head if head in FAMILIES + ("fleet",) else "ts"


def registry_queries() -> list[str]:
    """The registry workload's queries, derived from ``bench.HEADLINE``
    (which already leaves out the ``DIAGNOSTICS`` one-plan twin): the
    first query of each family in HEADLINE order.  The ``fleet`` family
    runs the pipeline's own ``plans.levels`` code, which the two pipeline
    workloads measure, so it is left out to keep a run short."""
    import bench

    picked: dict[str, str] = {}
    for q in bench.HEADLINE:
        if q not in bench.DIAGNOSTICS:
            picked.setdefault(family(q), q)
    return [picked[f] for f in FAMILIES if f in picked]


DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "registry_digests.json")
REGISTRY_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "registry")


def digest(pdf) -> str:
    """Order-independent digest of a result frame: columns by name, floats
    rounded to 6 significant digits, rows sorted as strings."""
    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "null"
        if isinstance(v, (float, decimal.Decimal)):
            return f"{float(v):.6g}"
        if hasattr(v, "item"):  # numpy scalar
            return cell(v.item())
        return str(v)

    cols = sorted(pdf.columns)
    rows = sorted(
        "|".join(cell(v) for v in r)
        for r in pdf[cols].astype(object).itertuples(index=False, name=None)
    )
    h = hashlib.sha256(("\x1f".join(cols) + "\n").encode())
    for r in rows:
        h.update(r.encode() + b"\n")
    return h.hexdigest()[:16]


def write_registry_inputs(data_dir: str, seed: int) -> tuple[int, int]:
    """Copy the registry tables into ``data_dir`` with their rows in a
    seed-chosen order.  Returns (rows, bytes) written."""
    import pyarrow.parquet as pq

    os.makedirs(data_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    rows = size = 0
    for src in sorted(glob.glob(os.path.join(REGISTRY_DATA, "*.parquet"))):
        table = pq.read_table(src)
        table = table.take(rng.permutation(table.num_rows))
        dst = os.path.join(data_dir, os.path.basename(src))
        pq.write_table(table, dst)
        rows += table.num_rows
        size += os.path.getsize(dst)
    return rows, size


class Registry:
    name = "registry_suite"
    warm = True
    reads_l0 = False

    def __init__(self, spark, data_dir: str, seed: int):
        import __spark_entry__

        self.spark = spark
        self.sf_dir = data_dir
        self.input_rows, self.input_bytes = write_registry_inputs(data_dir, seed)
        qs = __spark_entry__.queries()
        self.names = registry_queries()
        self.fns = {n: qs[n] for n in self.names}
        with open(DIGESTS) as f:
            self.expected = json.load(f)
        self.results: dict[str, tuple[int, str]] = {}

    def run_pass(self, tr, out: str) -> dict[str, float]:
        """Build then execute every query.  The cold pass (pass 0)
        collects each result for the checks instead of writing to noop."""
        # drop what the previous pass persisted, as bench.py does
        self.spark.catalog.clearCache()
        collected = {}
        t0 = mark()
        for n in self.names:
            with tr.span(f"registry.{n}.build"):
                df = self.fns[n](self.spark, self.sf_dir)
            with tr.span(f"registry.{n}.execute"):
                if tr.pass_no == 0:
                    collected[n] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
        t1 = mark()
        for n, pdf in collected.items():
            self.results[n] = (len(pdf), digest(pdf))
        # the pass as build, then execute: sums over its spans
        mine = [s for s in tr.spans if s.pass_no == tr.pass_no and s.start.t >= t0.t]
        build = [s for s in mine if s.name.endswith(".build")]
        execute = [s for s in mine if s.name.endswith(".execute")]
        out = split(t0, t1, t1)
        out.update(l1_s=sum(s.wall for s in build), l2_s=sum(s.wall for s in execute),
                   l1_cpu_s=sum(s.cpu for s in build), l2_cpu_s=sum(s.cpu for s in execute))
        return out

    def l1_bytes(self, out: str) -> int:
        return 0

    def check(self, out: str) -> tuple[int, list[str]]:
        """Compare the cold pass's results with the recorded digests."""
        problems = []
        for n in self.names:
            want = self.expected.get(n)
            got = self.results.get(n)
            if want is None or got is None or [got[0], got[1]] != [want["rows"], want["digest"]]:
                problems.append(f"{n}: result {got} != recorded {want}")
        return len(self.names), problems


WORKLOADS = {w.name: w for w in (Site, Fleet, Registry)}
