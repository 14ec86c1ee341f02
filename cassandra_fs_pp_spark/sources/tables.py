"""Parquet star-schema scans over the driver-generated test tables.

These are the engine's canonical columnar scans (SURVEY §2.1 maps the
reference's CSV/TOA5 scans here; Parquet is the at-scale format). Catalyst
pushes predicates and prunes columns into these scans automatically —
queries should express filters/projections declaratively and let it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Columns written as parquet TIMESTAMP(NANOS) — Spark has no nanosecond
# timestamp type, so these are read as raw ns longs
# (spark.sql.legacy.parquet.nanosAsLong) and floored to microseconds,
# matching DuckDB's us-precision read of the same files.
NANOS_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Lazy: no IO until an action runs.

    Sets ``spark.sql.legacy.parquet.nanosAsLong`` for the SESSION (not
    restored: the returned frame is lazy, so the conf must still hold at
    action time — an engine session owns this defense; callers reading
    their own TIMESTAMP(NANOS) parquet in the same session will see those
    columns as raw ns longs and should convert as done here)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    dtypes = dict(df.dtypes)
    for col in NANOS_TS_COLUMNS.get(name, ()):
        # only the driver-generated TIMESTAMP(NANOS) layout arrives as a
        # raw ns long; re-materialized copies are already timestamps
        if dtypes.get(col) == "bigint":
            # integer div (not /) — ns epochs exceed double's 2^53 range
            # pure NTZ arithmetic from the epoch — no tz-aware hop, so
            # the result is identical under ANY spark.sql.session.timeZone
            df = df.withColumn(
                col,
                F.expr(
                    f"timestampadd(MICROSECOND, `{col}` div 1000, "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
    return df
