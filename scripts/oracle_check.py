"""Local replica of the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 (or $SF_DIR) on
Spark AND its ``oracle_sql()`` on DuckDB, then compares:
  * row count
  * column name set
  * exact values (columns sorted by name, rows sorted by all columns),
    reporting per-column max abs diff for floats on mismatch.

Usage: python scripts/oracle_check.py [--json=PATH] [query ...]
Exit code 0 iff all checked queries match exactly; 2 on an unknown
query name or option.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from cassandra_fs_pp_spark.session import get_spark
from cassandra_fs_pp_spark.sources.tables import TABLES

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")


def complex_output_cols(schema) -> list[str]:
    """Columns whose Spark type the driver's canonicalizer cannot hash.

    The driver sorts rows by every column; an ArrayType/MapType/StructType
    cell arrives in pandas as an ndarray/dict and `sort_values` raises
    `unhashable type` — the exact r1 `f_higher_order` / r3 `f_collections`
    failure.  Serialize such columns (array_join / to_json) in the query.
    """
    from pyspark.sql import types as T

    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif s.dtype == object:
            df[c] = s.astype(str)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s) or pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("float64")  # unify int widths/nullable ints
    df = df.sort_values(by=list(df.columns), na_position="last", kind="mergesort")
    return df.reset_index(drop=True)


def _kind(s: pd.Series) -> str:
    """Dtype family the driver's value-hash distinguishes: int vs float vs
    bool vs datetime vs string.  int64-vs-float64 drift (e.g. a DuckDB
    HUGEINT sum against a Spark BIGINT) must FAIL here, because it fails
    the driver's hash even when values are numerically identical."""
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    if s.dtype == object:
        import datetime as _dt

        vals = s.dropna()
        if len(vals) and all(isinstance(v, (_dt.date, _dt.datetime)) for v in vals.head(50)):
            # Spark DATE arrives as object-of-date; DuckDB DATE as
            # datetime64 — the driver's hash treats these as equal (r01:
            # f_scalar_suite/f_datetime_suite green), so we do too.
            return "datetime"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    return "object"


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if len(sdf) != len(odf):
        problems.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
    scols, ocols = sorted(sdf.columns), sorted(odf.columns)
    if scols != ocols:
        problems.append(f"columns spark={scols} oracle={ocols}")
        return problems
    for c in scols:
        ks, ko = _kind(sdf[c]), _kind(odf[c])
        # An all-null column arrives as object/float depending on engine;
        # only flag kind drift when both sides actually carry values.
        if ks != ko and sdf[c].notna().any() and odf[c].notna().any():
            problems.append(f"col {c}: dtype kind spark={ks} oracle={ko}")
    if problems:
        return problems
    s, o = normalize(sdf), normalize(odf)
    for c in s.columns:
        a, b = s[c], o[c]
        if pd.api.types.is_float_dtype(a) and pd.api.types.is_float_dtype(b):
            eq = (a.isna() & b.isna()) | (a == b)
            if not bool(eq.all()):
                bad = ~eq
                diff = (a[bad] - b[bad]).abs().max()
                problems.append(
                    f"col {c}: {int(bad.sum())} mismatches, max|diff|={diff}"
                )
        else:
            eq = (a.isna() & b.isna()) | (a.astype(str) == b.astype(str))
            if not bool(eq.all()):
                idx = (~eq).idxmax()
                problems.append(
                    f"col {c}: {int((~eq).sum())} mismatches, "
                    f"first spark={a[idx]!r} oracle={b[idx]!r}"
                )
    return problems


def main(argv: list[str]) -> int:
    # --json=PATH writes the sweep as a committed artifact (VERDICT r10
    # item 8): {query: {status, secs, rows, problems}} for every checked
    # query, so out-of-window freshness is auditable at a glance instead
    # of re-derived from window history.
    json_path = None
    rest = []
    for a in argv:
        if a.startswith("--json="):
            json_path = a.split("=", 1)[1]
        else:
            rest.append(a)
    only = set(rest)
    report: dict[str, dict] = {}
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # a misspelt name or flag would otherwise check nothing and pass
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown queries or options: {unknown}", file=sys.stderr)
        return 2
    spark = get_spark("oracle_check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.isdir(path):
            # Spark-written tables are DIRECTORIES of part files; DuckDB
            # needs the glob (the r10 stream_table layout class, on the
            # oracle side — bit when sweeping synthesized 8x corpora).
            # An interrupted write can leave only _SUCCESS behind —
            # skip like the missing-file branch instead of aborting the
            # whole sweep at view setup (ADVICE r11).
            import glob as _glob

            if not _glob.glob(os.path.join(path, "*.parquet")):
                print(f"WARN: {path} has no part files; view skipped")
                continue
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):
            continue
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf_spark = fn(spark, SF_DIR)
            bad_cols = complex_output_cols(sdf_spark.schema)
            if bad_cols:
                print(
                    f"FAIL {name}: non-scalar output columns {bad_cols} — "
                    "the driver canonicalizer cannot hash these; serialize "
                    "via array_join/to_json"
                )
                report[name] = {
                    "status": "fail",
                    "problems": [f"non-scalar output columns {bad_cols}"],
                }
                failures += 1
                continue
            sdf = sdf_spark.toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            report[name] = {"status": "fail", "problems": [f"spark: {e}"]}
            failures += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only: {len(sdf)} rows)")
            report[name] = {"status": "rows_only", "rows": len(sdf)}
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            report[name] = {"status": "fail", "problems": [f"duckdb: {e}"]}
            failures += 1
            continue
        problems = compare(name, sdf, odf)
        dt = time.time() - t0
        if problems:
            failures += 1
            print(f"FAIL {name} ({dt:.1f}s): " + "; ".join(problems))
            report[name] = {
                "status": "fail",
                "secs": round(dt, 1),
                "problems": problems,
            }
        else:
            print(f"OK   {name} ({dt:.1f}s, {len(sdf)} rows)")
            report[name] = {
                "status": "ok",
                "secs": round(dt, 1),
                "rows": len(sdf),
            }
    print(f"\n{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    if json_path:
        import json as _json

        with open(json_path, "w") as f:
            _json.dump(
                {
                    "sf_dir": SF_DIR,
                    "n_checked": len(report),
                    "n_ok": sum(
                        1 for r in report.values() if r["status"] == "ok"
                    ),
                    "n_fail": failures,
                    "queries": report,
                },
                f,
                indent=1,
            )
        print(f"wrote {json_path}")
    return 0 if failures == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
