"""Projection-plane operators (SURVEY §2.3 P1, P6; P5 is `colRegex`).

* P1 all-null column pruning — the reference's ``dropna(how='all',
  axis='columns')`` after union (``cassandra_fs_pp/fs_pp.py:95``). Data
  dependent, so it costs one aggregate pass (count per column) before the
  projection; Catalyst prunes the dropped columns from the real scan
  afterwards, so the second pass reads only survivors.
* P6 regex column rename — the level-2 rename planner
  (``cassandra_fs_pp/fs_pp.py:340-388``): match L1 names against mapping
  regexes; multi-member families extract the sensor id (``(\\d+)$`` or
  ``NAME(\\d+)_``) and substitute ``*`` in the target pattern.

All driver-side planning over ``df.columns`` (metadata plane) + a single
``select``/``withColumnsRenamed`` — no data movement.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Engine copy of the reference's level0->level2 rename table
# (cassandra_fs_pp/fs_column_names.csv:1-8; values re-stated, not parsed
# from the reference at runtime).
DEFAULT_L2_RENAME: tuple[tuple[str, str], ...] = (
    (r"DTC1\([0-9]+\)", "DTC1_*(C)"),
    (r"DTC2\([0-9]+\)", "DTC2_*(C)"),
    (r"TCDT", "TCDT(m)"),
    (r"TDR([0-9]+)_VWC", "TDR*_VWC(m3/m3)"),
    (r"TDR([0-9]+)_EC", "TDR*_EC(dS/m)"),
    (r"TDR([0-9]+)_T", "TDR*_T(C)"),
    (r"TDR([0-9]+)_Period", "TDR*_Period(uS)"),
)


def prune_all_null_columns(df: DataFrame, protect: Sequence[str] = ()) -> DataFrame:
    """P1 — drop columns whose every value is null (one count pass)."""
    counts = df.select(
        [F.count(F.col(c)).alias(c) for c in df.columns]
    ).collect()[0]
    keep = [c for c in df.columns if c in protect or counts[c] > 0]
    return df.select(*keep)


_ID_ARRAY = re.compile(r"\((?P<id>[0-9]+)\)$")
_ID_MULTI = re.compile(r"[A-Za-z]+(?P<id>[0-9]+)_")


def build_l2_rename(
    columns: Sequence[str],
    mapping: Sequence[tuple[str, str]] = DEFAULT_L2_RENAME,
) -> dict[str, str]:
    """P6 — old->new name map computed from the live column set."""
    out: dict[str, str] = {}
    for regex, target in mapping:
        pat = re.compile(regex)
        matched = [c for c in columns if pat.search(c)]
        for col in matched:
            if "*" in target:
                # family target: substitute the member's sensor id — even a
                # single-member family (one TDR chain installed) needs it
                m = _ID_ARRAY.search(col) or _ID_MULTI.search(col)
                if m is None:
                    raise ValueError(f"cannot extract sensor id from {col!r}")
                out[col] = target.replace("*", m.group("id"))
            else:
                out[col] = target
    return out


def rename_columns(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """Apply a rename map in one projection."""
    return df.select(
        *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
    )


def transpose_frame(
    df: DataFrame, key_col: str, *, value_type: str = "string"
) -> DataFrame:
    """R4 — transpose: rows become columns, columns become rows
    (reference ``investigate_2022_fs_data.py:113,140,156`` uses ``.T`` on
    collected pandas frames before heatmap plotting).

    Distributed shape: unpivot to ``(column, key, value)`` then pivot on
    the key — one shuffle each way, no driver collect of the data itself
    (Spark's pivot collects only the DISTINCT KEY LIST to name the output
    columns).  The output is as wide as the input is long, so this carries
    the same boundedness contract pandas ``.T`` implies: transpose the
    aggregated/plot-bound frame, not the raw table.  Mixed input dtypes
    collapse to ``value_type`` (pandas ``.T`` likewise yields object)."""
    cols = [c for c in df.columns if c != key_col]
    dup = (
        df.groupBy(key_col).count().filter(F.col("count") > 1).limit(1).count()
    )
    if dup:
        # pandas .T would emit duplicate columns; Spark cannot — refuse
        # rather than let pivot's first() pick a partition-dependent value
        raise ValueError(f"transpose_frame: duplicate {key_col} values")
    melted = df.select(
        F.col(key_col).cast("string").alias("__key"),
        *[F.col(c).cast(value_type).alias(c) for c in cols],
    ).unpivot(
        ids=["__key"],
        values=cols,
        variableColumnName="column",
        valueColumnName="__value",
    )
    return melted.groupBy("column").pivot("__key").agg(F.first("__value"))
