"""TOA5 (Campbell Scientific) logger-file source (SURVEY §2.1 S1-S3, S6).

File layout (cf. reference test_data/fielddata_202107/MainTable1.dat:1-4):

    line 1: "TOA5","<station>","<logger>",...   -- environment, discarded
    line 2: "TIMESTAMP","RECORD","BattV_Min",...-- column names
    line 3: "TS","RN","Volts",...               -- units (kept as sidecar)
    line 4: "","","Min",...                     -- aggregation type (sidecar)
    line 5+: "2021-04-30 18:00:00",0,13.04,...  -- data rows, NAN sentinel

Spark has no ``skiprows``, and header lines interleave per file in a
multi-file read — so the reader:

1. peeks the 4 header lines of ONE file driver-side (metadata plane, a few
   hundred bytes) to build the schema + units sidecar;
2. reads all files as TEXT, keeps ``input_file_name`` for provenance, and
   drops header lines with a DATA-SHAPE predicate (rows start with a
   quoted ISO timestamp) — order-free, so it distributes over any number
   of files/partitions;
3. parses rows JVM-side with ``from_csv`` (nullValue=NAN, explicit schema).

At 100 TB (many stations x years of bales) this is a plain distributed
text scan: no per-file driver work beyond the one schema peek per logger
program, no shuffle at all. Heterogeneous schemas across datasets are
unioned later with ``unionByName(allowMissingColumns=True)`` (U1).
"""

from __future__ import annotations

import csv
import io
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DATA_ROW_RE = r'^"?\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}'


@dataclass(frozen=True)
class Toa5Header:
    environment: tuple[str, ...]
    names: tuple[str, ...]
    units: tuple[str, ...]
    aggregation: tuple[str, ...]

    @property
    def units_map(self) -> dict[str, str]:
        return dict(zip(self.names, self.units))


def _head_lines(path: str, n: int, spark=None) -> list[str]:
    """First ``n`` lines of ``path``: local ``open`` when the path is on
    the driver's filesystem, else (object stores — s3a://, hdfs://) a
    ``textFile().take(n)`` through Hadoop's FS layer (``take`` reads
    partition 0, i.e. the file head)."""
    try:
        with open(path, newline="") as f:
            return [f.readline() for _ in range(n)]
    except (OSError, ValueError):
        if spark is None:
            raise
        return [ln + "\n" for ln in spark.sparkContext.textFile(path).take(n)]


def read_toa5_header(path: str, spark=None) -> Toa5Header:
    """Driver-side peek at the 4 header lines (metadata plane only)."""
    rows = list(csv.reader(io.StringIO("".join(_head_lines(path, 4, spark)))))
    if len(rows) < 4 or not rows[0] or rows[0][0] != "TOA5":
        raise ValueError(f"{path}: not a TOA5 file (missing TOA5 env line)")
    return Toa5Header(
        environment=tuple(rows[0]),
        names=tuple(rows[1]),
        units=tuple(rows[2]),
        aggregation=tuple(rows[3]),
    )


def toa5_schema_ddl(names: Sequence[str], time_col: str = "TIMESTAMP") -> str:
    """Schema from a names line: ``time_col`` -> timestamp, RECORD/Q ->
    long, everything else double (the TOA5 numeric convention; overridable
    by passing an explicit DDL to read_toa5). The engine's own L1/L2 CSVs
    are re-read with the same rule (``plans.levels.load_level1_csv``)."""
    parts = []
    for name in names:
        if name == time_col:
            typ = "timestamp"
        elif name in ("RECORD", "Q"):
            typ = "long"
        else:
            typ = "double"
        parts.append(f"`{name}` {typ}")
    return ", ".join(parts)


def read_toa5(
    spark: SparkSession,
    paths: list[str] | str,
    *,
    schema_ddl: str | None = None,
    with_provenance: bool = True,
) -> DataFrame:
    """Distributed TOA5 scan -> typed DataFrame (+ ``_file`` provenance).

    All ``paths`` must share one logger program (one schema); mixed
    programs are separate calls unioned by the caller (S3 semantics).
    """
    if isinstance(paths, str):
        paths = [paths]
    if schema_ddl is None:
        schema_ddl = toa5_schema_ddl(read_toa5_header(paths[0], spark).names)
    txt = spark.read.text(paths).select(
        F.input_file_name().alias("_file"), F.col("value")
    )
    rows = txt.filter(F.col("value").rlike(DATA_ROW_RE))
    parsed = rows.select(
        "_file",
        F.from_csv(
            "value",
            schema_ddl,
            {
                "nullValue": "NAN",
                "timestampFormat": "yyyy-MM-dd HH:mm:ss",
                "emptyValue": "",
            },
        ).alias("r"),
    ).select("_file", "r.*")
    if not with_provenance:
        parsed = parsed.drop("_file")
    return parsed


def read_toa5_positions(
    spark: SparkSession, path: str, *, drop: tuple[str, ...] = ("RECORD",)
) -> "list[float]":
    """S6 — sensor-position scan: first data row of a TOA5 diagnostics file
    as a position vector (positive millimetres along the chain)."""
    df = read_toa5(spark, path, with_provenance=False)
    first = df.orderBy("TIMESTAMP").limit(1).drop("TIMESTAMP", *drop).collect()
    if not first:
        raise ValueError(f"{path}: no data rows")
    vals = list(first[0])
    if any(v is None for v in vals):
        bad = [c for c, v in zip(first[0].__fields__, vals) if v is None]
        raise ValueError(
            f"{path}: first data row has unreadable (NAN) positions in "
            f"{bad} — positions must come from a complete row"
        )
    return [float(v) for v in vals]
