"""CLI twins of the reference's pipeline entry points.

Reference (``bin/fs_process_l1.py:14-53``, ``bin/fs_process_l2.py:22-68``):

    fs_process_l1.py <site>   # L0 -> L1 CSV, overwrite guard
    fs_process_l2.py <site>   # L1 -> L2 CSV (+ NetCDF)

Engine:

    python -m cassandra_fs_pp_spark.cli l1 <config.toml> <data_root> [-o OUT] [--force]
    python -m cassandra_fs_pp_spark.cli l2 <config.toml> <data_root> -o OUT
        [--calibration CSV] [--netcdf NC]
"""

from __future__ import annotations

import argparse
import os
import sys


def _spark():
    from cassandra_fs_pp_spark.session import get_spark

    return get_spark("cassandra_fs_pp_spark.cli")


def _file_name(name: str) -> str:
    """A plot file name built from column names, with path separators
    replaced: L2 columns carry units such as ``TDR1_VWC(m3/m3)``."""
    return name.replace("/", "_").replace(os.sep, "_")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="cassandra_fs_pp_spark.cli")
    sub = p.add_subparsers(dest="cmd", required=True)

    p1 = sub.add_parser("l1", help="level-0 TOA5 -> level-1 CSV")
    p1.add_argument("config")
    p1.add_argument("data_root")
    p1.add_argument("-o", "--out", default=None)
    p1.add_argument("--force", action="store_true",
                    help="overwrite an existing L1 output (reference guard)")

    p2 = sub.add_parser("l2", help="level-1 -> level-2 CSV (+ NetCDF)")
    p2.add_argument("config")
    p2.add_argument("data_root")
    p2.add_argument("-o", "--out", required=True)
    p2.add_argument("--l1", default=None, help="L1 path (default: site default)")
    p2.add_argument("--calibration", default=None, help="EC calibration CSV")
    p2.add_argument("--netcdf", default=None, help="also export NetCDF here")

    # K4 twin of bin/plot_L2.py: per-variable raw+smoothed line PNGs and
    # chain heatmaps over an engine L2 CSV product, via the from-spec PNG
    # encoder (no matplotlib).
    p3 = sub.add_parser("plot", help="level-2 CSV -> per-variable PNG plots")
    p3.add_argument("l2_csv", help="L2 CSV path (engine product)")
    p3.add_argument("-o", "--outpath", required=True)
    p3.add_argument("--site", default="site")
    p3.add_argument("--time-col", default="TIMESTAMP")
    p3.add_argument("--vars", default=None,
                    help="comma list of scalar columns (default: all numeric non-chain)")
    p3.add_argument("--chain-prefix", action="append", default=[],
                    help="column prefix rendered as a heatmap (e.g. DTC1_)")
    p3.add_argument("--width", type=int, default=960)
    p3.add_argument("--height", type=int, default=480)

    a = p.parse_args(argv)

    if a.cmd == "plot":
        from cassandra_fs_pp_spark.plans.levels import load_level1_csv
        from cassandra_fs_pp_spark.plots import (
            render_heatmap,
            render_l2_variable,
            save_png,
        )

        spark = _spark()
        df = load_level1_csv(spark, a.l2_csv, t=a.time_col)
        chain_cols = {
            c
            for pref in a.chain_prefix
            for c in df.columns
            if c.startswith(pref)
        }
        if a.vars:
            scalars = [v.strip() for v in a.vars.split(",") if v.strip()]
        else:
            scalars = [
                f.name
                for f in df.schema.fields
                if f.name != a.time_col
                and f.name not in chain_cols
                and f.dataType.typeName() in ("double", "float", "integer", "long")
            ]
        os.makedirs(a.outpath, exist_ok=True)
        for v in scalars:
            out = os.path.join(a.outpath, _file_name(f"{a.site}_{v}.png"))
            save_png(render_l2_variable(df, a.time_col, v,
                                        width=a.width, height=a.height), out)
            print(f"wrote {out}")
        for pref in a.chain_prefix:
            cols = sorted(c for c in df.columns if c.startswith(pref))
            if not cols:
                continue
            # wide chain -> long (time, sensor, value) for the heatmap
            melted = df.selectExpr(
                a.time_col,
                "stack({n}, {args}) AS (sensor, value)".format(
                    n=len(cols),
                    args=", ".join(f"'{c}', `{c}`" for c in cols),
                ),
            )
            out = os.path.join(
                a.outpath, _file_name(f"{a.site}_{pref.rstrip('_')}_heatmap.png")
            )
            save_png(
                render_heatmap(melted, a.time_col, "sensor", "value",
                               width=a.width, height=a.height,
                               title=pref.rstrip("_")),
                out,
            )
            print(f"wrote {out}")
        return 0

    from cassandra_fs_pp_spark.engine import SiteEngine

    eng = SiteEngine(_spark(), a.config, a.data_root)
    if a.cmd == "l1":
        out = a.out or eng.default_l1_path()
        if os.path.exists(out) and not a.force:
            print(f"refusing to overwrite {out} (use --force)", file=sys.stderr)
            return 1
        l1 = eng.level0_to_level1()
        eng.write_l1(l1, out)
        # count the written product: l1.count() would re-run L0 -> L1
        n = eng.spark.read.csv(out, header=True).count()
        print(f"wrote L1: {out} ({n} rows)")
        return 0

    l1 = eng.load_level1(a.l1)
    cal = eng.load_calibrations(a.calibration) if a.calibration else None
    l2 = eng.level1_to_level2(l1, cal)
    eng.write_l2_csv(l2, a.out)
    print(f"wrote L2: {a.out} ({l2.count()} rows)")
    if a.netcdf:
        eng.to_netcdf(l2, a.netcdf)
        print(f"wrote NetCDF: {a.netcdf}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
