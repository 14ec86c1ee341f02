"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).  The gate checks the first 50
registry entries.

Both dicts derive from one ordered table, ``_registry()``, near the end
of this file: one ``(fn, oracle_sql_or_None)`` row per query, named by
``fn.__name__``.  To add a query, write its function and its DuckDB
oracle, then add a row.  To rotate a changed query into the gate's
window, move its row to the top of the table.

Engine: ``cassandra_fs_pp_spark`` (see SURVEY.md §2 for the operator
inventory each query exercises). Numeric-determinism convention: money-like
sums go through DECIMAL casts (exact, order-independent) and are cast back
to double; double avgs are rounded to >=4 decimals so Spark/DuckDB
summation-order differences (~1e-12 relative) can't flip the value hash.
"""

from __future__ import annotations

import logging
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

log = logging.getLogger(__name__)

from cassandra_fs_pp_spark.operators.dedup import dedup_keep_first, dedup_rows
from cassandra_fs_pp_spark.operators.joins import (
    asof_join,
    calibration_group_mean,
)
from cassandra_fs_pp_spark.operators.skew import spread_if_narrow
from cassandra_fs_pp_spark.operators.validity import null_out_of_range, quality_gate
from cassandra_fs_pp_spark.operators.windows import (
    rolling_median,
    time_frame,
    ts_delta_seconds,
)
from cassandra_fs_pp_spark.session import local_table as _local_table
from cassandra_fs_pp_spark.session import tune
from cassandra_fs_pp_spark.sources.tables import load_table

SF0001 = "/root/testdata/sf0.001"

# Scan-spread policy (r17 optimization, guide §2.2/§6): the heavy-payload
# tables whose operators do super-linear per-row work (tokenize + n-gram
# explode + md5 on documents; per-subspace PQ argmin / dot products on
# embeddings).  When such a table arrives as fewer planned input splits
# than the cluster has cores — the sf0.1 reality: ONE small single-row-
# group parquet file, so the whole tokenize/encode stage runs as ONE task
# while 31 cores idle (measured: the 1-2 s single-task jobs dominating
# curation_dsir_select / ann_ivf_pq_* / dedup_*_spans walls) — a round-
# robin repartition to ``defaultParallelism`` spreads that CPU-bound work
# across the cluster.  The guard is scale-adaptive, not a local[32]
# constant: at 100 TB the scan has >> cores planned splits and the spread
# is a NO-OP (no exchange added); it only fires in the
# small-input/unsplittable-file regime where the scan itself cannot
# parallelize.  Scan-bound tables (lineitem/orders/events) are NOT spread:
# their scan+partial-agg plans are already the ideal shape and the extra
# exchange costs more than the downstream work it parallelizes (measured:
# tpch_q1 +0.3 s when lineitem is spread).  Results are unchanged — no
# declared query depends on row order or partitioning (the oracle gate
# compares order-insensitively, and every ranking boundary specifies its
# own ORDER BY).  The guard itself is ``operators.skew.spread_if_narrow``,
# which sizes the scan from the optimizer's statistics.
_SPREAD_TABLES = frozenset({"documents", "embeddings"})


def _t(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = True
) -> DataFrame:
    """Load a table; documents/embeddings are round-robin-spread when the
    scan plans fewer splits than cores (no-op at production scale).

    ``spread=False`` (r17) opts a query out: paired fresh-JVM A/Bs showed
    the extra exchange LOSES 0.2-0.5 s for light single-pass consumers
    (one mapInPandas or one explode+map-side agg over the corpus —
    emb_gram_matrix, emb_label_inertia, ann_matryoshka_topk,
    emb_semantic_dedup, curation_pipeline, ann_block_topk) while heavy
    per-row compute (interpreted PQ argmin, tokenize+md5, minhash) keeps
    it.  emb_kmeans_assign opts out too: its argmin is one Arrow kernel
    pass per round, and at sf0.1 on a 4-core host its warm time went
    0.98 -> 0.81 s at local[4] and 4.6 -> 0.93 s at local[32] without the
    spread (each spread task pays a Python worker round trip).  At 100 TB
    the flag is moot — the guard never fires on a multi-split scan."""
    tune(spark)
    df = load_table(spark, sf_dir, name)
    if spread and name in _SPREAD_TABLES:
        df = spread_if_narrow(df)
    return df


# --------------------------------------------------------------------------
# Flagship (SURVEY §7.1): events -> keep-first dedup (P3) -> validity
# nulling (P7) -> broadcast dim join (J1-shape) -> tumbling 1-hour agg (A8)
# -> trailing 24h rolling mean (W4).
# --------------------------------------------------------------------------

def flagship_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")

    deduped = dedup_keep_first(
        ev, keys=["user_id", "event_type", "ts"], order_by=["event_id"]
    )
    valid = deduped.withColumn(
        "value_valid",
        F.when(F.col("value").between(0.0, 450.0), F.col("value")),
    )
    joined = valid.join(
        F.broadcast(cust.select(F.col("c_custkey"), F.col("c_mktsegment"))),
        on=valid["user_id"] == F.col("c_custkey"),
        how="left",
    )
    hourly = (
        joined.groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.window("ts", "1 hour").alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value_valid"), 3).alias("sum_value"),
        )
        .select("segment", F.col("w.start").alias("hour_ts"), "n_events", "sum_value")
    )
    frame = time_frame("hour_ts", before_s=86400, partition_by=["segment"])
    # Window avg via decimal-exact sum / count: sum_value is a 3dp value, so
    # the decimal window sum is order-independent (portable vs the oracle).
    dec_sum = F.sum(F.col("sum_value").cast("decimal(18,3)")).over(frame)
    cnt = F.count("sum_value").over(frame)
    # round at 8dp: a (3dp sum)/n quotient can terminate at up to 7 decimals,
    # and Spark vs DuckDB break exact round-ties differently — rounding past
    # the terminating scale sidesteps ties entirely
    return hourly.withColumn(
        "avg_24h", F.round(dec_sum.cast("double") / cnt, 8)
    )


FLAGSHIP_ORACLE = """
WITH dedup AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY user_id, event_type, ts ORDER BY event_id) AS rn
    FROM events) WHERE rn = 1
), v AS (
  SELECT user_id, ts,
         CASE WHEN value BETWEEN 0 AND 450 THEN value END AS value_valid
  FROM dedup
), j AS (
  SELECT v.*, c.c_mktsegment AS segment
  FROM v LEFT JOIN customer c ON v.user_id = c.c_custkey
), h AS (
  SELECT segment, date_trunc('hour', ts) AS hour_ts,
         count(*) AS n_events, round(sum(value_valid), 3) AS sum_value
  FROM j GROUP BY 1, 2
)
SELECT segment, hour_ts, n_events, sum_value,
       round(CAST(sum(CAST(sum_value AS DECIMAL(18,3))) OVER w AS DOUBLE)
             / count(sum_value) OVER w, 8) AS avg_24h
FROM h
WINDOW w AS (PARTITION BY segment ORDER BY epoch(hour_ts)
             RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship_events_hourly(spark, SF0001)


# --------------------------------------------------------------------------
# TPC-H Q1 — pricing summary (A-layer headline; SURVEY §5 oracle strategy).
# DECIMAL sums for order-independent exactness.
# --------------------------------------------------------------------------

def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # Full-DECIMAL money arithmetic: base columns are 2dp-valued doubles, so
    # a single cast to decimal is exact; decimal *,+,- and sums are then
    # order-independent and bit-identical between Spark and DuckDB. (Casting
    # a double PRODUCT to decimal is NOT portable near scale boundaries.)
    price = F.col("l_extendedprice").cast("decimal(14,2)")
    disc = F.col("l_discount").cast("decimal(8,4)")
    tax = F.col("l_tax").cast("decimal(8,4)")
    disc_price = price * (1 - disc)
    charge = disc_price * (1 + tax)
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            # round decimal sums to scale 2 BEFORE the double cast so the
            # scaled integer fits in 2^53 and the cast is exact in both
            # engines (at scale 6+ the cast itself can differ by 1 ulp)
            F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
            F.round(F.sum("l_quantity") / n, 6).alias("avg_qty"),
            F.round(F.sum(price).cast("double") / n, 4).alias("avg_price"),
            F.round(F.sum(disc).cast("double") / n, 6).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


TPCH_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2))
            * (1 - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2))
            * (1 - CAST(l_discount AS DECIMAL(8,4)))
            * (1 + CAST(l_tax AS DECIMAL(8,4)))), 2) AS DOUBLE) AS sum_charge,
       round(sum(l_quantity) / count(*), 6) AS avg_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
             / count(*), 4) AS avg_price,
       round(CAST(sum(CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE)
             / count(*), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# Dedup family (P2 / P3) — duplicates are synthesized by self-union so the
# operators do real work on the clean test tables.
# --------------------------------------------------------------------------

def p2_dedup_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    doubled = ev.unionByName(ev)
    return dedup_rows(doubled)


P2_ORACLE = """
SELECT DISTINCT * FROM (
  SELECT * FROM events UNION ALL SELECT * FROM events)
"""


def p3_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    shadow = ev.withColumn("event_id", F.col("event_id") + F.lit(1000000)).withColumn(
        "value", F.col("value") * 2
    )
    doubled = ev.unionByName(shadow)
    return dedup_keep_first(
        doubled, keys=["user_id", "event_type", "ts"], order_by=["event_id"]
    )


P3_ORACLE = """
WITH doubled AS (
  SELECT * FROM events
  UNION ALL
  SELECT event_id + 1000000 AS event_id, ts, user_id, event_type,
         value * 2 AS value, props
  FROM events
)
SELECT event_id, ts, user_id, event_type, value, props FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id, event_type, ts ORDER BY event_id) AS rn
  FROM doubled) WHERE rn = 1
"""


# --------------------------------------------------------------------------
# P7/P8 validity + quality gate; P10 time slice.
# --------------------------------------------------------------------------

def p7_validity_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    bounded = null_out_of_range(ev, {"value": (0.0, 100.0)})
    flag = (F.col("event_id") % 256).cast("long")
    return bounded.select(
        "event_id",
        F.col("value").alias("value_valid"),
        quality_gate(F.col("value"), flag).alias("value_gated"),
    )


P7_ORACLE = """
SELECT event_id,
       CASE WHEN value BETWEEN 0 AND 100 THEN value END AS value_valid,
       CASE WHEN coalesce(event_id % 256, 150) BETWEEN 150 AND 210
            THEN CASE WHEN value BETWEEN 0 AND 100 THEN value END
       END AS value_gated
FROM events
"""


def p10_time_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.filter(
        F.col("ts").between(
            F.lit("2024-01-10 00:00:00"), F.lit("2024-01-20 00:00:00")
        )
    ).select("event_id", "ts", "user_id", "event_type", "value")


P10_ORACLE = """
SELECT event_id, ts, user_id, event_type, value FROM events
WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'
"""


# --------------------------------------------------------------------------
# Aggregation layer: A1 median over slice, A3 mode of sampling interval,
# A6 month rollup, A8 hourly resample.
# --------------------------------------------------------------------------

def a1_median_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(
            (F.col("event_type") == "click")
            & (F.col("ts") >= F.lit("2024-01-05 00:00:00"))
            & (F.col("ts") < F.lit("2024-01-15 00:00:00"))
        )
        .groupBy("event_type")
        .agg(
            F.round(F.median("value"), 6).alias("median_value"),
            F.count(F.lit(1)).alias("n"),
        )
    )


A1_ORACLE = """
SELECT event_type, round(median(value), 6) AS median_value, count(*) AS n
FROM events
WHERE event_type = 'click'
  AND ts >= TIMESTAMP '2024-01-05 00:00:00'
  AND ts <  TIMESTAMP '2024-01-15 00:00:00'
GROUP BY event_type
"""


def a3_mode_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    deltas = ev.select(
        "user_id",
        F.floor(ts_delta_seconds("ts", partition_by=["user_id"])).alias("delta_s"),
    ).filter(F.col("delta_s").isNotNull())
    return (
        deltas.groupBy("delta_s")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("delta_s"))
        .limit(1)
    )


A3_ORACLE = """
WITH deltas AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT)
           - CAST(floor(epoch(lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts))) AS BIGINT) AS delta_s
  FROM events
)
SELECT CAST(delta_s AS BIGINT) AS delta_s, count(*) AS n
FROM deltas WHERE delta_s IS NOT NULL
GROUP BY delta_s ORDER BY n DESC, delta_s ASC LIMIT 1
"""


def a3_per_key_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 fleet form — dominant sampling interval PER series key (the
    per-site step that the L2 lineage fetches in its one build-time
    collect, with the height-change medians)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 25)
    deltas = ev.select(
        "user_id",
        F.floor(
            ts_delta_seconds("ts", partition_by=["user_id"], tiebreak=["event_id"])
        ).alias("__d"),
    )
    counts = (
        deltas.filter(F.col("__d").isNotNull())
        .groupBy("user_id", "__d")
        .count()
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("count"), F.asc("__d"))
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", F.col("__d").alias("freq_s"), F.col("count").alias("n"))
    )


A3_PER_KEY_ORACLE = """
WITH deltas AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT)
           - CAST(floor(epoch(lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) AS d
  FROM events WHERE user_id < 25
), counts AS (
  SELECT user_id, d, count(*) AS n FROM deltas
  WHERE d IS NOT NULL GROUP BY 1, 2
)
SELECT user_id, d AS freq_s, n FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY n DESC, d ASC) AS rn
  FROM counts) WHERE rn = 1
"""


def a6_monthly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.month("ts").alias("month"), F.col("event_type")
        )
        .agg(
            F.round(F.sum("value"), 3).alias("sum_value"),
            F.count(F.lit(1)).alias("n"),
        )
    )


A6_ORACLE = """
SELECT CAST(month(ts) AS INT) AS month, event_type,
       round(sum(value), 3) AS sum_value, count(*) AS n
FROM events GROUP BY 1, 2
"""


def a8_resample_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 3).alias("sum_value"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select("w.start", "n", "sum_value", "avg_value", "min_value", "max_value")
        .withColumnRenamed("start", "hour_ts")
    )


A8_ORACLE = """
SELECT date_trunc('hour', ts) AS hour_ts, count(*) AS n,
       round(sum(value), 3) AS sum_value,
       round(avg(value), 4) AS avg_value,
       min(value) AS min_value, max(value) AS max_value
FROM events GROUP BY 1
"""


# --------------------------------------------------------------------------
# Window layer: W1 trailing 2-day rolling median, W4 covered by flagship.
# --------------------------------------------------------------------------

def w1_rolling_median_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day_ts"))
        .agg(F.round(F.sum("value"), 3).alias("day_value"))
    )
    frame = time_frame("day_ts", before_s=2 * 86400, partition_by=["user_id"])
    return daily.withColumn(
        "med_3d", F.round(rolling_median("day_value", frame), 4)
    )


W1_ORACLE = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day_ts,
         round(sum(value), 3) AS day_value
  FROM events GROUP BY 1, 2
)
SELECT user_id, day_ts, day_value,
       round(median(day_value) OVER (
         PARTITION BY user_id ORDER BY epoch(day_ts)
         RANGE BETWEEN 172800 PRECEDING AND CURRENT ROW), 4) AS med_3d
FROM daily
"""


# --------------------------------------------------------------------------
# Join layer: J1 calibration+fallback, J4 as-of, semi/anti.
# --------------------------------------------------------------------------

def j1_calibration_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    fact = li.select(
        F.col("l_suppkey").alias("sensor_id"), F.col("l_discount").alias("raw")
    )
    calib = supp.filter(F.col("s_suppkey") % 4 != 0).select(
        F.col("s_suppkey").alias("sensor_id"),
        (F.round("s_acctbal", 2) / 1000.0).alias("m"),
        (F.col("s_nationkey") / 10.0).alias("c"),
    )
    # r12: partition-invariant aggregate form — a double avg(calibrated)
    # drifts with summation order (engine/partition/task), and the drift
    # grows ~n*ulp with group size, so no rounding scale is safe at 100 TB
    # (the 8x sweep's 2-row round-6 tie).  calibration_group_mean sums the
    # on-grid hit side in exact DECIMAL(38,7) and folds the miss side
    # algebraically; avg_cal is emitted RAW (bit-identical by construction).
    return calibration_group_mean(fact, calib)


J1_ORACLE = """
WITH calib AS (
  SELECT s_suppkey AS sensor_id, round(s_acctbal, 2) / 1000.0 AS m,
         s_nationkey / 10.0 AS c
  FROM supplier WHERE s_suppkey % 4 <> 0
), means AS (
  -- mirrors calibration_group_mean's exact fixed-point mean (r12 fix for
  -- the 8x order-dependent-avg round-tie): lossless DECIMAL(38,6) sum of
  -- the low-precision coefficients, ONE final IEEE division
  SELECT CAST(sum(CAST(m AS DECIMAL(38,6))) AS DOUBLE) / count(m) AS avg_m,
         CAST(sum(CAST(c AS DECIMAL(38,6))) AS DOUBLE) / count(c) AS avg_c
  FROM calib
), fact AS (
  -- NULL-raw rows are excluded to mirror calibration_group_mean's
  -- up-front filter (avg(calibrated) drops NULL from numerator AND
  -- denominator; without this the oracle's count(*) AS n would keep
  -- counting rows the CASE sums skip, deflating the mean).  Unreachable
  -- on this schema (TPC-H l_discount is NOT NULL) but kept so the
  -- oracle states the same semantics as the operator.
  SELECT l_suppkey AS sensor_id, l_discount AS raw FROM lineitem
  WHERE l_discount IS NOT NULL
), g AS (
  -- hit rows land on the 7-decimal grid (m 5dp x raw 2dp + c 1dp): exact
  -- DECIMAL sum; miss rows fold to avg_m*T + avg_c*n_miss with T exact
  SELECT f.sensor_id,
         sum(CASE WHEN cal.m IS NOT NULL THEN
             CAST(cal.m * (1 - f.raw) + cal.c AS DECIMAL(38,7)) END) AS s_hit,
         sum(CASE WHEN cal.m IS NULL THEN
             CAST(1 - f.raw AS DECIMAL(38,2)) END) AS t_miss,
         count(CASE WHEN cal.m IS NULL THEN 1 END) AS n_miss,
         count(*) AS n
  FROM fact f LEFT JOIN calib cal ON f.sensor_id = cal.sensor_id
  GROUP BY f.sensor_id
)
SELECT g.sensor_id,
       (coalesce(CAST(g.s_hit AS DOUBLE), 0)
        + means.avg_m * coalesce(CAST(g.t_miss AS DOUBLE), 0)
        + means.avg_c * g.n_miss) / g.n AS avg_cal,
       g.n
FROM g CROSS JOIN means
"""


def j4_asof_backward(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("value").alias("err_value")
    )
    return asof_join(
        clicks,
        errors,
        on="ts",
        by=["user_id"],
        value_cols=["err_value"],
        direction="backward",
    )


J4_ORACLE = """
SELECT l.event_id, l.user_id, l.ts, l.value, r.err_value
FROM (SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'click') l
ASOF LEFT JOIN
     (SELECT user_id, ts, value AS err_value FROM events
      WHERE event_type = 'error') r
ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def j_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join: events matched into 6-day windows by a pure
    non-equi predicate (SURVEY §2.4 'absent from the reference; the Spark
    engine gets these free'). At scale: broadcast the interval dim or
    bucket both sides by coarse time."""
    ev = _t(spark, sf_dir, "events")
    intervals = (
        spark.range(0, 6)
        .select(
            F.col("id").alias("interval_id"),
            (
                F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
                + F.make_dt_interval(F.col("id") * 6)
            ).alias("lo"),
            (
                F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
                + F.make_dt_interval((F.col("id") + 1) * 6)
            ).alias("hi"),
        )
    )
    joined = ev.join(
        F.broadcast(intervals),
        (ev["ts"] >= F.col("lo")) & (ev["ts"] < F.col("hi")),
    )
    return joined.groupBy("interval_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 3).alias("sum_value"),
    )


J_RANGE_ORACLE = """
WITH intervals AS (
  SELECT range AS interval_id,
         TIMESTAMP '2024-01-01 00:00:00' + range * INTERVAL 6 DAY AS lo,
         TIMESTAMP '2024-01-01 00:00:00' + (range + 1) * INTERVAL 6 DAY AS hi
  FROM range(6)
)
SELECT interval_id, count(*) AS n, round(sum(value), 3) AS sum_value
FROM events JOIN intervals ON ts >= lo AND ts < hi
GROUP BY interval_id
"""


def j_semi_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    errors = ev.filter(F.col("event_type") == "error").select("user_id")
    return clicks.join(errors, on="user_id", how="left_semi").distinct()


J_SEMI_ORACLE = """
SELECT DISTINCT user_id FROM events e
WHERE event_type = 'click' AND EXISTS (
  SELECT 1 FROM events x
  WHERE x.event_type = 'error' AND x.user_id = e.user_id)
"""


def j_anti_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    errors = ev.filter(F.col("event_type") == "error").select("user_id")
    return clicks.join(errors, on="user_id", how="left_anti").distinct()


J_ANTI_ORACLE = """
SELECT DISTINCT user_id FROM events e
WHERE event_type = 'click' AND NOT EXISTS (
  SELECT 1 FROM events x
  WHERE x.event_type = 'error' AND x.user_id = e.user_id)
"""


# --------------------------------------------------------------------------
# U1 union with schema merge.
# --------------------------------------------------------------------------

def u1_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "view").select("event_id", "user_id", "value")
    b = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    return a.unionByName(b, allowMissingColumns=True)


U1_ORACLE = """
SELECT event_id, user_id, value FROM events WHERE event_type = 'view'
UNION ALL BY NAME
SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
"""


def u_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set semantics (SURVEY §2.5 'free in Spark'):
    users doing both clicks+errors vs clicks-only, via set ops (not joins)."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    errors = ev.filter(F.col("event_type") == "error").select("user_id")
    both = clicks.intersect(errors).withColumn("src", F.lit("both"))
    only = clicks.distinct().exceptAll(errors.distinct()).withColumn(
        "src", F.lit("click_only")
    )
    return both.unionByName(only)


U_SET_OPS_ORACLE = """
SELECT user_id, 'both' AS src FROM (
  SELECT user_id FROM events WHERE event_type = 'click'
  INTERSECT
  SELECT user_id FROM events WHERE event_type = 'error')
UNION ALL
SELECT user_id, 'click_only' AS src FROM (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
  EXCEPT ALL
  SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
"""


def w_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking analytics family: rank/dense_rank/percent_rank/ntile/
    cume_dist per event_type by value (event_id tiebreak)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = Window.partitionBy("event_type").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    return ev.select(
        "event_type",
        "event_id",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 8).alias("prnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.cume_dist().over(w), 8).alias("cdist"),
    )


W_RANKING_ORACLE = """
SELECT event_type, event_id,
       rank() OVER w AS rnk,
       dense_rank() OVER w AS drnk,
       round(percent_rank() OVER w, 8) AS prnk,
       ntile(4) OVER w AS quartile,
       round(cume_dist() OVER w, 8) AS cdist
FROM events WHERE user_id < 10
WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id ASC)
"""


# --------------------------------------------------------------------------
# Window layer completion: W5 resample+limited ffill, W6 interpolation,
# W8 ratchet depth, W9 piecewise offsets (SURVEY §2.7).
# --------------------------------------------------------------------------

from cassandra_fs_pp_spark.operators.windows import (  # noqa: E402
    ffill_limited,
    interpolate_linear,
    piecewise_offset,
    ratchet_depth,
    resample_grid,
)


def _sparse_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily sums over high-value events only -> series with holes."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter((F.col("user_id") < 5) & (F.col("value") > 30.0))
        .groupBy("user_id", F.date_trunc("day", "ts").alias("day_ts"))
        .agg(F.round(F.sum("value"), 3).alias("day_value"))
    )


_SPARSE_DAILY_SQL = """
  SELECT user_id, date_trunc('day', ts) AS day_ts,
         round(sum(value), 3) AS day_value
  FROM events WHERE user_id < 5 AND value > 30.0
  GROUP BY 1, 2
"""


def w5_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _sparse_daily(spark, sf_dir)
    grid = resample_grid(daily, "day_ts", 86400, partition_by=["user_id"])
    return grid.withColumn(
        "filled",
        ffill_limited(
            "day_value", "day_ts", limit=2, freq_s=86400, partition_by=["user_id"]
        ),
    )


W5_ORACLE = f"""
WITH daily AS ({_SPARSE_DAILY_SQL}),
bounds AS (SELECT user_id, min(day_ts) AS d0, max(day_ts) AS d1
           FROM daily GROUP BY 1),
grid AS (SELECT user_id,
                unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day_ts
         FROM bounds),
g AS (SELECT grid.user_id, grid.day_ts, daily.day_value
      FROM grid LEFT JOIN daily USING (user_id, day_ts)),
f AS (SELECT user_id, day_ts, day_value,
             last_value(day_value IGNORE NULLS) OVER w AS lv,
             last_value(CASE WHEN day_value IS NOT NULL THEN day_ts END
                        IGNORE NULLS) OVER w AS lt
      FROM g
      WINDOW w AS (PARTITION BY user_id ORDER BY day_ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT user_id, day_ts, day_value,
       CASE WHEN day_value IS NOT NULL THEN day_value
            WHEN CAST(floor(epoch(day_ts)) AS BIGINT)
                 - CAST(floor(epoch(lt)) AS BIGINT) <= 172800 THEN lv
       END AS filled
FROM f
"""


def w6_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _sparse_daily(spark, sf_dir)
    grid = resample_grid(daily, "day_ts", 86400, partition_by=["user_id"])
    return grid.withColumn(
        "interp",
        interpolate_linear("day_value", "day_ts", partition_by=["user_id"]),
    )


W6_ORACLE = f"""
WITH daily AS ({_SPARSE_DAILY_SQL}),
bounds AS (SELECT user_id, min(day_ts) AS d0, max(day_ts) AS d1
           FROM daily GROUP BY 1),
grid AS (SELECT user_id,
                unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day_ts
         FROM bounds),
g AS (SELECT grid.user_id, grid.day_ts, daily.day_value
      FROM grid LEFT JOIN daily USING (user_id, day_ts)),
f AS (SELECT user_id, day_ts, day_value,
             last_value(day_value IGNORE NULLS) OVER wb AS pv,
             last_value(CASE WHEN day_value IS NOT NULL THEN day_ts END
                        IGNORE NULLS) OVER wb AS pt,
             first_value(day_value IGNORE NULLS) OVER wf AS nv,
             first_value(CASE WHEN day_value IS NOT NULL THEN day_ts END
                         IGNORE NULLS) OVER wf AS nt
      FROM g
      WINDOW wb AS (PARTITION BY user_id ORDER BY day_ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY user_id ORDER BY day_ts
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT user_id, day_ts, day_value,
       CASE WHEN day_value IS NOT NULL THEN day_value
            WHEN pv IS NULL THEN NULL
            WHEN nv IS NULL THEN pv
            ELSE pv + (nv - pv) * ((epoch(day_ts) - epoch(pt))
                                   / (epoch(nt) - epoch(pt)))
       END AS interp
FROM f
"""


def w8_ratchet_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surface-ratchet depth on a synthetic UDG series built from events:
    per-user daily normalized sums as the 'surface height' walk."""
    daily = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 3)
        .groupBy("user_id", F.date_trunc("day", "ts").alias("day_ts"))
        .agg((F.round(F.sum("value"), 3) / 1000.0).alias("udg"))
    )
    return daily.withColumn(
        "depth",
        ratchet_depth("udg", "day_ts", -0.5, partition_by=["user_id"]),
    )


W8_ORACLE = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day_ts,
         round(sum(value), 3) / 1000.0 AS udg
  FROM events WHERE user_id < 3 GROUP BY 1, 2
)
SELECT user_id, day_ts, udg,
       least(0.0, udg - greatest(0.5, max(udg) OVER (
         PARTITION BY user_id ORDER BY day_ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))) AS depth
FROM daily
"""


def w9_piecewise_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "value")
    import datetime as _dt

    events = [
        (_dt.datetime(2024, 1, 10), 5.0),
        (_dt.datetime(2024, 1, 20), -3.0),
    ]
    return ev.withColumn("adjusted", piecewise_offset("value", "ts", events))


W9_ORACLE = """
SELECT event_id, ts, value,
       value - ((CASE WHEN ts >= TIMESTAMP '2024-01-10' THEN 5.0 ELSE 0.0 END)
              + (CASE WHEN ts >= TIMESTAMP '2024-01-20' THEN -3.0 ELSE 0.0 END))
         AS adjusted
FROM events
"""


# --------------------------------------------------------------------------
# Aggregation breadth: A5 slice sum, A7 daily profile, rollup, pivot (R5),
# P1 all-null prune, scalar function suite (F1-F10), TPC-H Q3/Q5 joins.
# --------------------------------------------------------------------------

from cassandra_fs_pp_spark.operators.projection import (  # noqa: E402
    prune_all_null_columns,
)


def a5_positive_sum_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(
            (F.col("ts") >= F.lit("2024-01-05 00:00:00"))
            & (F.col("ts") < F.lit("2024-01-12 00:00:00"))
            & (F.col("value") > 100.0)
        )
        .agg(
            F.sum(F.col("value").cast("decimal(14,2)")).cast("double").alias(
                "sum_value"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )


A5_ORACLE = """
SELECT CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value,
       count(*) AS n
FROM events
WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
  AND ts < TIMESTAMP '2024-01-12 00:00:00' AND value > 100.0
"""


def a7_daily_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    dec_sum = F.sum(F.col("value").cast("decimal(14,2)"))
    return (
        ev.filter(F.to_date("ts") == F.lit("2024-01-15").cast("date"))
        .groupBy("event_type")
        .agg(
            F.round(dec_sum.cast("double") / F.count("value"), 8).alias(
                "avg_value"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )


A7_ORACLE = """
SELECT event_type,
       round(CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE)
             / count(value), 8) AS avg_value,
       count(*) AS n
FROM events
WHERE CAST(ts AS DATE) = DATE '2024-01-15'
GROUP BY event_type
"""


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.rollup(F.col("event_type"), F.month("ts").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(14,2)")).cast("double").alias(
                "sum_value"
            ),
            F.grouping("event_type").cast("int").alias("g_type"),
        )
    )


ROLLUP_ORACLE = """
SELECT event_type, CAST(month(ts) AS INT) AS month, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value,
       CAST(grouping(event_type) AS INT) AS g_type
FROM events GROUP BY ROLLUP (event_type, month(ts))
"""


EVENT_TYPES = ["click", "view", "purchase", "error", "signup"]


def r5_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("user_id") < 20)
        .groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(
            F.sum(F.col("value").cast("decimal(14,2)")).cast("double")
        )
    )


R5_PIVOT_ORACLE = f"""
SELECT user_id,
       {", ".join(f'CAST("{t}" AS DOUBLE) AS {t}' for t in EVENT_TYPES)}
FROM (
  SELECT user_id, event_type,
         CAST(value AS DECIMAL(14,2)) AS v
  FROM events WHERE user_id < 20
) PIVOT (sum(v) FOR event_type IN
  ({", ".join(repr(t) for t in EVENT_TYPES)}))
"""


def p1_prune_all_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "value",
        F.lit(None).cast("double").alias("ghost"),
    )
    return prune_all_null_columns(ev)


P1_ORACLE = "SELECT event_id, user_id, value FROM events"


def f_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F10 scalar family in one projection (SURVEY §2.8)."""
    ev = _t(spark, sf_dir, "events")
    v = F.col("value")
    return ev.select(
        "event_id",
        (F.lit(1.0) - v).alias("one_minus"),  # F1
        (v * 2.5 + 3.0).alias("linear"),  # F1
        F.round(v / 7.0, 8).alias("rounded"),  # F2 (tie-free scale)
        F.abs(v - 100.0).alias("absdiff"),  # F3
        F.least(F.lit(0.0), v - 50.0).alias("clamped"),  # F4
        F.when(v > 50.0, v).otherwise(-v).alias("conditional"),  # F5
        v.isNull().alias("is_null"),  # F6
        (F.col("ts") - F.expr("INTERVAL 1 DAY")).alias("ts_minus_1d"),  # F7
        F.month("ts").cast("int").alias("m"),  # F8
        F.dayofmonth("ts").cast("int").alias("dom"),  # F8
        F.to_date("ts").alias("d"),  # F8
        F.regexp_extract(
            F.concat(F.lit("EC("), (F.col("user_id") % 12 + 1), F.lit(")")),
            r"\((\d+)\)",
            1,
        ).alias("sensor_id"),  # F9
        F.upper("event_type").alias("etype_u"),  # F9
        F.get_json_object("props", "$.k").alias("prop_k"),  # F9 (json)
        F.coalesce(
            F.round(v * 1000.0).cast("int"), F.lit(-9999)
        ).alias("scaled_int"),  # F10
    )


F_SCALAR_ORACLE = r"""
SELECT event_id,
       1.0 - value AS one_minus,
       value * 2.5 + 3.0 AS linear,
       round(value / 7.0, 8) AS rounded,
       abs(value - 100.0) AS absdiff,
       least(0.0, value - 50.0) AS clamped,
       CASE WHEN value > 50.0 THEN value ELSE -value END AS conditional,
       value IS NULL AS is_null,
       ts - INTERVAL 1 DAY AS ts_minus_1d,
       CAST(month(ts) AS INT) AS m,
       CAST(day(ts) AS INT) AS dom,
       CAST(ts AS DATE) AS d,
       regexp_extract('EC(' || CAST(user_id % 12 + 1 AS VARCHAR) || ')',
                      '\((\d+)\)', 1) AS sensor_id,
       upper(event_type) AS etype_u,
       json_extract_string(props, '$.k') AS prop_k,
       coalesce(CAST(round(value * 1000.0) AS INT), -9999) AS scaled_int
FROM events
"""


# Id bands are taken modulo this stride (the oracles hard-code
# `% 10000000`), so a band keeps its share on id-shifted table copies.
_ID_STRIDE = 10_000_000


def f_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (transform/filter/aggregate/sort) —
    the per-row vector algebra the similarity layer builds on."""
    ev = _t(spark, sf_dir, "events").filter(
        F.pmod(F.col("event_id"), F.lit(_ID_STRIDE)) < 1000
    )
    arr = F.sequence(F.lit(1), (F.col("user_id") % 5 + 2).cast("int"))
    squares = F.transform(arr, lambda x: x * x)
    evens = F.filter(squares, lambda x: x % 2 == 0)
    total = F.aggregate(squares, F.lit(0).cast("long"), lambda a, x: a + x)
    # Array outputs are serialized to comma-joined strings so every output
    # column is a hashable scalar for row-sorting comparison harnesses;
    # the higher-order computation itself stays array-typed inside the plan.
    return ev.select(
        "event_id",
        F.array_join(arr.cast("array<string>"), ",").alias("arr"),
        F.array_join(squares.cast("array<string>"), ",").alias("squares"),
        F.array_join(evens.cast("array<string>"), ",").alias("evens"),
        total.alias("sum_squares"),
        F.array_join(
            F.reverse(F.array_sort(squares)).cast("array<string>"), ","
        ).alias("sorted_desc"),
    )


F_HOF_ORACLE = """
SELECT event_id,
       array_to_string(range(1, CAST(user_id % 5 + 2 AS INT) + 1), ',')
         AS arr,
       array_to_string(list_transform(
         range(1, CAST(user_id % 5 + 2 AS INT) + 1), x -> x * x), ',')
         AS squares,
       array_to_string(list_filter(list_transform(
         range(1, CAST(user_id % 5 + 2 AS INT) + 1), x -> x * x),
         x -> x % 2 = 0), ',') AS evens,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(range(1, CAST(user_id % 5 + 2 AS INT) + 1),
                                  x -> CAST(x * x AS BIGINT))),
                   (a, x) -> a + x) AS sum_squares,
       array_to_string(list_reverse_sort(list_transform(
         range(1, CAST(user_id % 5 + 2 AS INT) + 1), x -> x * x)), ',')
         AS sorted_desc
FROM events WHERE event_id % 10000000 < 1000
"""


def f_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling family: coalesce/nullif/nvl2/null-safe equality."""
    ev = _t(spark, sf_dir, "events").filter(
        F.pmod(F.col("event_id"), F.lit(_ID_STRIDE)) < 2000
    )
    v = F.when(F.col("value") > 100, F.col("value"))  # null-y column
    return ev.select(
        "event_id",
        F.coalesce(v, F.lit(-1.0)).alias("coal"),
        F.nullif(F.col("event_type"), F.lit("error")).alias("type_nz"),
        F.nvl2(v, F.lit("big"), F.lit("small")).alias("size_tag"),
        v.eqNullSafe(F.lit(None).cast("double")).alias("is_null_nsafe"),
        (F.isnull(v) & F.isnotnull(F.col("value"))).alias("was_filtered"),
    )


F_NULL_ORACLE = """
SELECT event_id,
       coalesce(CASE WHEN value > 100 THEN value END, -1.0) AS coal,
       nullif(event_type, 'error') AS type_nz,
       CASE WHEN (CASE WHEN value > 100 THEN value END) IS NOT NULL
            THEN 'big' ELSE 'small' END AS size_tag,
       (CASE WHEN value > 100 THEN value END)
         IS NOT DISTINCT FROM CAST(NULL AS DOUBLE) AS is_null_nsafe,
       ((CASE WHEN value > 100 THEN value END) IS NULL
        AND value IS NOT NULL) AS was_filtered
FROM events WHERE event_id % 10000000 < 2000
"""


def f_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function family incl. levenshtein (fuzzy-match primitive)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    head = F.substring(F.col("text"), 1, 20)
    return docs.select(
        "doc_id",
        F.concat_ws("|", F.lit("doc"), F.col("doc_id").cast("string")).alias(
            "tag"
        ),
        F.lpad(F.col("doc_id").cast("string"), 6, "0").alias("padded"),
        F.translate(head, "aeiou", "AEIOU").alias("vowels_up"),
        F.reverse(head).alias("rev"),
        F.length(F.trim(head)).alias("trimmed_len"),
        F.levenshtein(head, F.reverse(head)).alias("lev_self_rev"),
        F.repeat(F.lit("ab"), (F.col("doc_id") % 3 + 1).cast("int")).alias(
            "reps"
        ),
    )


F_STRING_ORACLE = """
SELECT doc_id,
       concat_ws('|', 'doc', CAST(doc_id AS VARCHAR)) AS tag,
       lpad(CAST(doc_id AS VARCHAR), 6, '0') AS padded,
       translate(substr(text, 1, 20), 'aeiou', 'AEIOU') AS vowels_up,
       reverse(substr(text, 1, 20)) AS rev,
       length(trim(substr(text, 1, 20))) AS trimmed_len,
       levenshtein(substr(text, 1, 20), reverse(substr(text, 1, 20)))
         AS lev_self_rev,
       repeat('ab', CAST(doc_id % 3 + 1 AS INT)) AS reps
FROM documents WHERE doc_id < 200
"""


def f_datetime_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 deepened — calendar extraction/arithmetic breadth. Cross-engine
    numbering pinned explicitly (Spark dayofweek is 1=Sunday; DuckDB's is
    0=Sunday)."""
    ev = _t(spark, sf_dir, "events").filter(
        F.pmod(F.col("event_id"), F.lit(_ID_STRIDE)) < 2000
    )
    t = F.col("ts")
    return ev.select(
        "event_id",
        F.dayofweek(t).cast("int").alias("dow_sun1"),
        F.dayofyear(t).cast("int").alias("doy"),
        F.quarter(t).cast("int").alias("qtr"),
        F.weekofyear(t).cast("int").alias("iso_week"),
        F.last_day(t).alias("month_end"),
        F.date_trunc("week", t).cast("timestamp_ntz").alias("week_start"),
        F.date_add(t.cast("date"), 7).alias("plus_7d"),
        F.datediff(t.cast("date"), F.lit("2024-01-01").cast("date")).cast(
            "int"
        ).alias("days_since"),
        F.hour(t).cast("int").alias("hr"),
        F.minute(t).cast("int").alias("mi"),
    )


F_DATETIME_ORACLE = """
SELECT event_id,
       CAST(dayofweek(ts) + 1 AS INT) AS dow_sun1,
       CAST(dayofyear(ts) AS INT) AS doy,
       CAST(quarter(ts) AS INT) AS qtr,
       CAST(weekofyear(ts) AS INT) AS iso_week,
       CAST(last_day(ts) AS DATE) AS month_end,
       date_trunc('week', ts) AS week_start,
       CAST(ts AS DATE) + 7 AS plus_7d,
       CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT)
         AS days_since,
       CAST(hour(ts) AS INT) AS hr,
       CAST(minute(ts) AS INT) AS mi
FROM events WHERE event_id % 10000000 < 2000
"""


def tpch_q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice").cast("decimal(14,2)") * (
        1 - F.col("l_discount").cast("decimal(8,4)")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(
            F.broadcast(cust.filter(F.col("c_mktsegment") == "BUILDING")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


TPCH_Q3_ORACLE = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2))
            * (1 - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def tpch_q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice").cast("decimal(14,2)") * (
        1 - F.col("l_discount").cast("decimal(8,4)")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == F.col("c_custkey"))
        .join(
            F.broadcast(supp),
            (li["l_suppkey"] == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("revenue"))
    )


TPCH_Q5_ORACLE = """
SELECT n_name AS nation,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2))
            * (1 - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY n_name
"""


# --------------------------------------------------------------------------
# TPC-H breadth: Q6 (filter-agg), Q14 (conditional agg over join), Q4-shape
# (EXISTS semi), Q10 (returned-item reporting). The generated lineitem has
# no commitdate/receiptdate/shipmode, so Q4's predicate is adapted.
# --------------------------------------------------------------------------


def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice").cast("decimal(14,2)") * F.col(
        "l_discount"
    ).cast("decimal(8,4)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("revenue"))
    )


TPCH_Q6_ORACLE = """
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2))
            * CAST(l_discount AS DECIMAL(8,4))), 2) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    revenue = F.col("l_extendedprice").cast("decimal(14,2)") * (
        1 - F.col("l_discount").cast("decimal(8,4)")
    )
    promo = F.when(F.col("p_type").startswith("PROMO"), revenue).otherwise(
        F.lit(0).cast("decimal(20,6)")
    )
    joined = li.filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01 00:00:00"))
        & (F.col("l_shipdate") < F.lit("1995-10-01 00:00:00"))
    ).join(F.broadcast(part), li["l_partkey"] == F.col("p_partkey"))
    return joined.agg(
        F.round(
            F.lit(100.0)
            * F.sum(promo).cast("double")
            / F.sum(revenue).cast("double"),
            6,
        ).alias("promo_revenue_pct")
    )


TPCH_Q14_ORACLE = """
SELECT round(100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
             THEN CAST(l_extendedprice AS DECIMAL(14,2))
                  * (1 - CAST(l_discount AS DECIMAL(8,4)))
             ELSE CAST(0 AS DECIMAL(20,6)) END) AS DOUBLE)
       / CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
             * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE), 6)
         AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1995-10-01 00:00:00'
"""


def tpch_q4_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4's EXISTS-semi-join shape: orders counted by priority when at least
    one lineitem shipped after the order date (adapted predicate — the
    generated lineitem has no commit/receipt dates)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    ).filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
    return (
        orders.join(
            late.select("l_orderkey").distinct(),
            orders["o_orderkey"] == F.col("l_orderkey"),
            how="left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


TPCH_Q4_ORACLE = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


def tpch_q10_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    nation = _t(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice").cast("decimal(14,2)") * (
        1 - F.col("l_discount").cast("decimal(8,4)")
    )
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-10-01 00:00:00"))
            & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00"))
        )
        .join(F.broadcast(cust), orders["o_custkey"] == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


TPCH_Q10_ORACLE = """
SELECT c_custkey, c_name, n_name,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2))
            * (1 - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 — shipping volume between two nations by year (5-way join with a
    disjunctive nation-pair predicate)."""
    supp = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    volume = F.col("l_extendedprice").cast("decimal(14,2)") * (
        1 - F.col("l_discount").cast("decimal(8,4)")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == F.col("s_suppkey"))
        .join(F.broadcast(cust), orders["o_custkey"] == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.round(F.sum(volume), 2).cast("double").alias("revenue"))
    )


TPCH_Q7_ORACLE = """
SELECT supp_nation, cust_nation, CAST(year(l_shipdate) AS INT) AS l_year,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2))
            * (1 - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN (SELECT n_nationkey AS n1_key, n_name AS supp_nation FROM nation) n1
  ON s_nationkey = n1_key
JOIN (SELECT n_nationkey AS n2_key, n_name AS cust_nation FROM nation) n2
  ON c_nationkey = n2_key
WHERE (supp_nation = 'NATION_1' AND cust_nation = 'NATION_2')
   OR (supp_nation = 'NATION_2' AND cust_nation = 'NATION_1')
GROUP BY 1, 2, year(l_shipdate)
"""


def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 — a nation's market share of ECONOMY-part revenue by year
    (conditional-numerator / total-denominator aggregation)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part")
    nation = _t(spark, sf_dir, "nation")
    volume = F.col("l_extendedprice").cast("decimal(14,2)") * (
        1 - F.col("l_discount").cast("decimal(8,4)")
    )
    share = F.when(F.col("n_name") == "NATION_3", volume).otherwise(
        F.lit(0).cast("decimal(20,6)")
    )
    return (
        li.join(F.broadcast(part.filter(F.col("p_type") == "ECONOMY")),
                li["l_partkey"] == F.col("p_partkey"))
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(share).cast("double") / F.sum(volume).cast("double"), 8
            ).alias("mkt_share")
        )
    )


TPCH_Q8_ORACLE = """
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       round(CAST(sum(CASE WHEN n_name = 'NATION_3'
             THEN CAST(l_extendedprice AS DECIMAL(14,2))
                  * (1 - CAST(l_discount AS DECIMAL(8,4)))
             ELSE CAST(0 AS DECIMAL(20,6)) END) AS DOUBLE)
       / CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
             * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE), 8)
         AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_type = 'ECONOMY'
GROUP BY year(o_orderdate)
"""


def tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 — customer order-count distribution: LEFT join (zero-order
    customers kept) then a groupBy of a groupBy."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


TPCH_Q13_ORACLE = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 — large-volume orders: HAVING-filtered keys semi-joined back
    into the customer/orders join."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        orders.join(big, orders["o_orderkey"] == big["l_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == F.col("c_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


TPCH_Q18_ORACLE = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM orders
JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150) b
  ON o_orderkey = b.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


def tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 — OR-of-ANDs join predicate (brand x size x quantity bands):
    Catalyst must extract the common join key and push the residual
    disjunction into the join."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    revenue = F.col("l_extendedprice").cast("decimal(14,2)") * (
        1 - F.col("l_discount").cast("decimal(8,4)")
    )
    joined = li.join(F.broadcast(part), li["l_partkey"] == F.col("p_partkey"))
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return joined.filter(cond).agg(
        F.round(F.sum(revenue), 2).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


TPCH_Q19_ORACLE = """
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2))
            * (1 - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE) AS revenue,
       count(*) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
"""


def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 — revenue view + scalar-max selection: per-supplier quarterly
    revenue, return the supplier(s) achieving the maximum. The max is a
    1-row broadcast join (never a driver collect), so the shape scales.
    cf. reference has no TPC corpus; suite per SURVEY §5."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    revenue = F.col("l_extendedprice").cast("decimal(14,2)") * (
        1 - F.col("l_discount").cast("decimal(8,4)")
    )
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00"))
        )
        .groupBy("l_suppkey")
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("total_revenue"))
    )
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.join(F.broadcast(top), rev["total_revenue"] == top["max_revenue"])
        .join(F.broadcast(supp), rev["l_suppkey"] == supp["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
    )


TPCH_Q15_ORACLE = """
WITH revenue AS (
  SELECT l_suppkey,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2))
              * (1 - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


def tpch_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 — correlated avg-quantity subquery: revenue from lineitems whose
    quantity is below 20% of the per-part average (brand/size stand in for
    the absent container column). The correlation is decorrelated into a
    per-part aggregate joined back — the plan Catalyst itself produces for
    the SQL form, stated explicitly in DataFrame ops."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    per_part = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    sel_parts = part.filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_size") < 15)
    )
    return (
        li.join(F.broadcast(sel_parts), li["l_partkey"] == F.col("p_partkey"))
        .join(per_part, li["l_partkey"] == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(F.sum("l_extendedprice") / F.lit(7.0), 2).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


TPCH_Q17_ORACLE = """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
       count(*) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#3' AND p_size < 15
  AND l_quantity < (
    SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = lineitem.l_partkey)
"""


def tpch_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 — scalar subquery + anti join: wealthy customers (above the
    positive-balance average) with no order since 1999, grouped by
    nation (stands in for the absent phone country code; the date window
    makes the anti join select real rows on this data)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    recent = (
        orders.filter(F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00"))
        .select("o_custkey")
        .distinct()
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust["c_custkey"] == F.col("o_custkey"), how="left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


TPCH_Q22_ORACLE = """
SELECT c_nationkey AS cntrycode, count(*) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
GROUP BY c_nationkey
"""


def tpch_q9_profit_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9's shape without partsupp (absent from the star schema): product
    profit proxy (revenue) for name-matched parts by supplier nation and
    order year — a 5-way join with a LIKE filter on the part dimension."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice").cast("decimal(14,2)") * (
        1 - F.col("l_discount").cast("decimal(8,4)")
    )
    return (
        li.join(
            F.broadcast(part.filter(F.col("p_name").contains("red"))),
            li["l_partkey"] == F.col("p_partkey"),
        )
        .join(F.broadcast(supp), li["l_suppkey"] == F.col("s_suppkey"))
        .join(orders, li["l_orderkey"] == F.col("o_orderkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.round(F.sum(amount), 2).cast("double").alias("sum_profit"))
    )


TPCH_Q9_ORACLE = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2))
            * (1 - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE)
         AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, year(o_orderdate)
"""


def tpch_q12_latemode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12's conditional-count shape: lines bucketed by shipping delay
    (30-day bands stand in for the absent shipmode column), counting
    high- vs low-priority orders per band with CASE aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    delay_band = (
        F.floor(
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) / F.lit(30)
        )
        .cast("bigint")
        .alias("delay_band")
    )
    high = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
    ).otherwise(0)
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(delay_band)
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(1 - high).alias("low_line_count"),
        )
    )


TPCH_Q12_ORACLE = """
SELECT CAST(floor(datediff('day', o_orderdate, l_shipdate) / 30)
            AS BIGINT) AS delay_band,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


def tpch_q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16's distinct-supplier count per part attribute group, using the
    lineitem fact as the part↔supplier link (partsupp is absent). The
    distinct projection collapses the fact table BEFORE the dimension
    join, so the join input is bounded by |part|x|supplier|."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    links = li.select("l_partkey", "l_suppkey").distinct()
    sel = part.filter(
        (F.col("p_brand") != "Brand#5") & (F.col("p_size") <= 30)
    )
    return (
        links.join(F.broadcast(sel), links["l_partkey"] == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


TPCH_Q16_ORACLE = """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) links
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5' AND p_size <= 30
GROUP BY p_brand, p_type, p_size
"""


def tpch_q21_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21's double-correlation shape (EXISTS + NOT EXISTS against the
    same fact): suppliers whose line shipped late (>60d after order date)
    in multi-supplier orders where NO other supplier shipped late —
    adapted to shipdate (no commit/receipt dates in the star schema).
    Expressed as semi + anti joins on (orderkey, suppkey-inequality),
    which is exactly how Catalyst decorrelates the SQL form."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    lines = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li["l_orderkey"] == F.col("o_orderkey"),
    ).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("is_late"),
    )
    late = (
        lines.filter(F.col("is_late"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    other = lines.select(
        F.col("l_orderkey").alias("o_ok"), F.col("l_suppkey").alias("o_sk"), "is_late"
    )
    waiting = (
        late.join(
            other,
            (late["l_orderkey"] == F.col("o_ok"))
            & (late["l_suppkey"] != F.col("o_sk")),
            "left_semi",
        )
        .join(
            other.filter(F.col("is_late")),
            (late["l_orderkey"] == F.col("o_ok"))
            & (late["l_suppkey"] != F.col("o_sk")),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(supp), waiting["l_suppkey"] == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


TPCH_Q21_ORACLE = """
WITH lines AS (
  SELECT l_orderkey, l_suppkey,
         (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
late AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lines WHERE is_late)
SELECT s_name, count(DISTINCT l.l_orderkey) AS numwait
FROM late l JOIN supplier ON l.l_suppkey = s_suppkey
WHERE EXISTS (
    SELECT 1 FROM lines o
    WHERE o.l_orderkey = l.l_orderkey AND o.l_suppkey <> l.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lines o
    WHERE o.l_orderkey = l.l_orderkey AND o.l_suppkey <> l.l_suppkey
      AND o.is_late)
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 10
"""


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ``partsupp`` stand-in (the generated star schema has
    no partsupp table): distinct part×supplier links observed in lineitem,
    with availqty / supplycost synthesized from the keys via integer
    arithmetic only — Spark and the DuckDB oracle derive bit-identical
    values, and supplycost is carried as integer CENTS so sums stay exact
    and partition-order-independent at any scale."""
    li = _t(spark, sf_dir, "lineitem")
    ps = li.select(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).distinct()
    cents = (F.col("ps_partkey") * 31 + F.col("ps_suppkey") * 7) % 20000 + 100
    return ps.select(
        "ps_partkey",
        "ps_suppkey",
        ((F.col("ps_partkey") * 37 + F.col("ps_suppkey") * 11) % 9999 + 1)
        .cast("int")
        .alias("ps_availqty"),
        cents.alias("ps_supplycost_cents"),
    )


# Shared CTE body for the three partsupp-based oracles (DuckDB syntax).
PARTSUPP_CTE = """
partsupp AS (
  SELECT ps_partkey, ps_suppkey,
         CAST((ps_partkey * 37 + ps_suppkey * 11) % 9999 + 1 AS INT)
           AS ps_availqty,
         (ps_partkey * 31 + ps_suppkey * 7) % 20000 + 100
           AS ps_supplycost_cents
  FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
        FROM lineitem))
"""


def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2's correlated-min shape (reference workload: pick the best
    calibration source per sensor — same min-per-group-then-join pattern):
    for each part, the EUROPE supplier(s) offering the minimum supply
    cost, restricted to small ECONOMY parts.  The per-part minimum is a
    window over the region-filtered candidate set (one shuffle on
    ps_partkey), dimensions broadcast; ordering tuple is unique per row so
    the LIMIT is deterministic."""
    ps = _partsupp(spark, sf_dir)
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    part = _t(spark, sf_dir, "part")
    eu = (
        supp.join(
            F.broadcast(nat), supp["s_nationkey"] == nat["n_nationkey"]
        )
        .join(
            F.broadcast(reg.filter(F.col("r_name") == "EUROPE")),
            nat["n_regionkey"] == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cand = ps.join(F.broadcast(eu), ps["ps_suppkey"] == F.col("s_suppkey"))
    w = Window.partitionBy("ps_partkey")
    best = cand.withColumn(
        "min_cost", F.min("ps_supplycost_cents").over(w)
    ).filter(F.col("ps_supplycost_cents") == F.col("min_cost"))
    sel = part.filter((F.col("p_size") <= 15) & (F.col("p_type") == "ECONOMY"))
    return (
        best.join(F.broadcast(sel), best["ps_partkey"] == F.col("p_partkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            (F.col("ps_supplycost_cents").cast("double") / F.lit(100.0)).alias(
                "ps_supplycost"
            ),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


TPCH_Q2_ORACLE = f"""
WITH {PARTSUPP_CTE.strip()},
eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'),
cand AS (
  SELECT ps_partkey, ps_supplycost_cents, s_name, s_acctbal, n_name,
         min(ps_supplycost_cents) OVER (PARTITION BY ps_partkey) AS min_cost
  FROM partsupp JOIN eu ON ps_suppkey = s_suppkey)
SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
       CAST(ps_supplycost_cents AS DOUBLE) / 100.0 AS ps_supplycost
FROM cand JOIN part ON ps_partkey = p_partkey
WHERE p_size <= 15 AND p_type = 'ECONOMY'
  AND ps_supplycost_cents = min_cost
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11's scalar-threshold shape: per-part stock value for one
    nation's suppliers, keeping parts whose value exceeds a fixed
    fraction (0.01%) of the nation-wide total.  Stock value accumulates
    in exact integer cents (order-independent), the grand total arrives
    via a 1-row broadcast cross join, and only the final projection
    converts to double."""
    ps = _partsupp(spark, sf_dir)
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    s_in = supp.join(
        F.broadcast(nat.filter(F.col("n_name") == "NATION_7")),
        supp["s_nationkey"] == F.col("n_nationkey"),
    ).select("s_suppkey")
    filtered = ps.join(
        F.broadcast(s_in), ps["ps_suppkey"] == F.col("s_suppkey"), "left_semi"
    )
    per_part = filtered.groupBy("ps_partkey").agg(
        F.sum(
            F.col("ps_supplycost_cents").cast("long") * F.col("ps_availqty")
        ).alias("value_cents")
    )
    total = per_part.agg(
        F.sum("value_cents").alias("total_cents")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(
            F.col("value_cents").cast("double")
            > F.col("total_cents").cast("double") / F.lit(10000.0)
        )
        .select(
            "ps_partkey",
            (F.col("value_cents").cast("double") / F.lit(100.0)).alias(
                "stock_value"
            ),
        )
        .orderBy(F.desc("stock_value"), "ps_partkey")
    )


TPCH_Q11_ORACLE = f"""
WITH {PARTSUPP_CTE.strip()},
nat_ps AS (
  SELECT ps_partkey,
         sum(CAST(ps_supplycost_cents AS BIGINT) * ps_availqty)
           AS value_cents
  FROM partsupp
  WHERE ps_suppkey IN (
    SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_7')
  GROUP BY ps_partkey)
SELECT ps_partkey,
       CAST(value_cents AS DOUBLE) / 100.0 AS stock_value
FROM nat_ps
WHERE CAST(value_cents AS DOUBLE)
      > (SELECT CAST(sum(value_cents) AS DOUBLE) FROM nat_ps) / 10000.0
ORDER BY stock_value DESC, ps_partkey
"""


def tpch_q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20's nested-semi shape: suppliers of 'red%' parts holding more
    stock than half of what they shipped in 1996, from one nation.  The
    correlated scalar subquery decorrelates into a (partkey, suppkey)
    aggregate joined back on both keys (co-partitioned sort-merge join);
    part filter applied as a broadcast semi-join before the fact agg
    join; quantity sums are integral doubles so 0.5× compares exactly."""
    ps = _partsupp(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    red_parts = part.filter(F.col("p_name").like("red%")).select("p_partkey")
    shipped = (
        li.filter(F.year("l_shipdate") == 1996)
        .groupBy("l_partkey", "l_suppkey")
        .agg((F.sum("l_quantity") * F.lit(0.5)).alias("half_qty"))
    )
    over_stocked = (
        ps.join(
            F.broadcast(red_parts),
            ps["ps_partkey"] == F.col("p_partkey"),
            "left_semi",
        )
        .join(
            shipped,
            (ps["ps_partkey"] == shipped["l_partkey"])
            & (ps["ps_suppkey"] == shipped["l_suppkey"]),
        )
        .filter(F.col("ps_availqty") > F.col("half_qty"))
        .select("ps_suppkey")
        .distinct()
    )
    return (
        supp.join(
            F.broadcast(nat.filter(F.col("n_name") == "NATION_3")),
            supp["s_nationkey"] == F.col("n_nationkey"),
        )
        .join(
            over_stocked, supp["s_suppkey"] == F.col("ps_suppkey"), "left_semi"
        )
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


TPCH_Q20_ORACLE = f"""
WITH {PARTSUPP_CTE.strip()},
shipped AS (
  SELECT l_partkey, l_suppkey, 0.5 * sum(l_quantity) AS half_qty
  FROM lineitem WHERE year(l_shipdate) = 1996
  GROUP BY l_partkey, l_suppkey)
SELECT s_name, s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
  AND s_suppkey IN (
    SELECT ps_suppkey
    FROM partsupp JOIN shipped
      ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
    WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      AND ps_availqty > half_qty)
ORDER BY s_name
"""


def tpch_q16_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical Q16 on the partsupp stand-in: distinct suppliers per part
    attribute group, EXCLUDING a supplier denylist (negative account
    balance stands in for the complaints predicate — no s_comment column).
    The anti-join applies to the broadcast-small supplier dim BEFORE the
    countDistinct, so the exclusion costs nothing at fact scale."""
    ps = _partsupp(spark, sf_dir)
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    bad = supp.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    sel = part.filter(
        (F.col("p_brand") != "Brand#5") & (F.col("p_size") <= 30)
    )
    return (
        ps.join(
            F.broadcast(bad),
            ps["ps_suppkey"] == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(sel), ps["ps_partkey"] == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


TPCH_Q16_PS_ORACLE = f"""
WITH {PARTSUPP_CTE.strip()}
SELECT p_brand, p_type, p_size,
       count(DISTINCT ps_suppkey) AS supplier_cnt
FROM partsupp JOIN part ON ps_partkey = p_partkey
WHERE p_brand <> 'Brand#5' AND p_size <= 30
  AND ps_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


def w_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value/nth analytic functions per user over event
    time (deterministic event_id tiebreak)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.first("value").over(w).alias("first_v"),
        F.last("value").over(w).alias("last_v"),
        F.nth_value("value", 2).over(w).alias("second_v"),
    ).distinct()


W_FIRST_LAST_ORACLE = """
SELECT DISTINCT user_id, event_id,
       first_value(value) OVER w AS first_v,
       last_value(value) OVER w AS last_v,
       nth_value(value, 2) OVER w AS second_v
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


# --------------------------------------------------------------------------
# LLM-data operators: text analysis, exact/minhash/simhash dedup,
# similarity search (BASELINE.json north star; SURVEY §7.2 phase 6).
# Duplicates/near-dups are synthesized by deterministic self-union
# mutations so the operators do real work on the clean corpus.
# --------------------------------------------------------------------------

from cassandra_fs_pp_spark.functions.text import (  # noqa: E402
    STOPWORDS,
    fingerprint,
    lang_id,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count_bpe,
    token_count_ws,
)
from cassandra_fs_pp_spark.operators.similarity import (  # noqa: E402
    brute_force_topk,
    embedding_near_dups,
    ivf_topk,
)
from cassandra_fs_pp_spark.operators.textdedup import (  # noqa: E402
    exact_dup_groups,
    jaccard_verify,
    lsh_candidate_pairs,
    lsh_cluster_wide,
    minhash_perms,
    minhash_signatures_wide,
    simhash,
)


def _doc_corpus_with_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + a mutated copy of each (id+100000, first word dropped)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+\s+", "").alias("text"),
    )
    return docs.unionByName(mutated)


_CORPUS_SQL = r"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id,
         regexp_replace(text, '^\S+\s+', '') AS text
  FROM documents
"""


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        token_count_ws(t).alias("n_tok_ws"),
        token_count_bpe(t).alias("n_tok_bpe"),
        punct_ratio(t).alias("punct_ratio"),
        stopword_ratio(t, "en").alias("stop_en"),
        quality_score(t).alias("quality"),
        fingerprint(t).alias("fp"),
    )


TEXT_STATS_ORACLE = r"""
SELECT doc_id,
       len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                       t -> t <> '')) AS n_tok_ws,
       len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS n_tok_bpe,
       CASE WHEN length(text) > 0
            THEN CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
                 / length(text)
            ELSE 0.0 END AS punct_ratio,
       CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) > 0
            THEN CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                 t -> t IN ('the','a','of','and','to','in','is','it','that','for')))
                 AS DOUBLE)
                 / len(string_split_regex(lower(trim(text)), '\s+'))
            ELSE 0.0 END AS stop_en,
       0.4 * least(1.0, CAST(length(text) AS DOUBLE) / 500.0)
       + 0.3 * (1.0 - least(1.0,
           (CASE WHEN length(text) > 0
                 THEN CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
                      / length(text)
                 ELSE 0.0 END) * 10.0))
       + 0.3 * greatest(0.0, 1.0 - abs(
           (CASE WHEN CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) AS DOUBLE) > 0
                 THEN CAST(length(text) AS DOUBLE)
                      / CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) AS DOUBLE)
                 ELSE 0.0 END) - 5.0) / 5.0) AS quality,
       md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
FROM documents
"""


RAKE_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
    "for", "on", "with", "as", "by", "at", "be", "this", "that",
    "it", "from", "was", "were", "not", "but", "had", "has", "have",
)
RAKE_SPLIT_RE = (
    r"(?:\b(?:" + "|".join(RAKE_STOPWORDS) + r")\b|[^a-z0-9\s]+)"
)


def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) over the corpus:
    candidate phrases are the maximal runs between stopwords/punctuation
    (<=4 words); each word's RAKE stats are freq (occurrences) and
    degree (sum of the lengths of phrases containing it, self
    included); a phrase scores the sum of its words' degree/freq — kept
    integer-exact as micro-units (``(1e6*degree) div freq``, truncating
    division both engines share) so the corpus-wide sums are
    order-insensitive. Top 20 by (score desc, phrase asc). All
    aggregations are plain hash groupBys over exploded tokens — no
    windows until the <=20-row rank."""
    docs = _t(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    raw = docs.select(F.explode(F.split(norm, RAKE_SPLIT_RE)).alias("raw"))
    canon = F.regexp_replace(F.trim(F.col("raw")), r"\s+", " ")
    phrases = (
        raw.select(canon.alias("phrase"))
        .filter(F.col("phrase") != "")
        .withColumn("words", F.split(F.col("phrase"), " "))
        .filter(F.size("words") <= 4)
    )
    wordstats = (
        phrases.select(
            F.size("words").alias("plen"), F.explode("words").alias("w")
        )
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("plen").alias("degree"),
        )
    )
    dp = phrases.groupBy("phrase").agg(F.count(F.lit(1)).alias("n_occ"))
    scored = (
        dp.select(
            "phrase", "n_occ",
            F.explode(F.split(F.col("phrase"), " ")).alias("w"),
        )
        .join(wordstats, "w")
        .groupBy("phrase", "n_occ")
        .agg(
            F.sum(F.expr("(1000000 * degree) div freq")).alias(
                "score_micro"
            ),
            F.count(F.lit(1)).alias("n_words"),
        )
        .orderBy(F.desc("score_micro"), F.asc("phrase"))
        .limit(20)
    )
    wr = Window.orderBy(F.desc("score_micro"), F.asc("phrase"))
    return scored.withColumn("rank", F.row_number().over(wr))


def _rake_sql() -> str:
    return rf"""
WITH rawp AS (
  SELECT unnest(string_split_regex(lower(trim(text)),
                '{RAKE_SPLIT_RE}')) AS raw
  FROM documents
), ph AS (
  SELECT regexp_replace(trim(raw), '\s+', ' ', 'g') AS phrase FROM rawp
), phf AS (
  SELECT phrase, string_split(phrase, ' ') AS words
  FROM ph WHERE phrase <> '' AND len(string_split(phrase, ' ')) <= 4
), ws AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(plen) AS BIGINT) AS degree
  FROM (SELECT len(words) AS plen, unnest(words) AS w FROM phf)
  GROUP BY w
), dp AS (
  SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ FROM phf GROUP BY phrase
), pw AS (
  SELECT phrase, n_occ, unnest(string_split(phrase, ' ')) AS w FROM dp
), scored AS (
  SELECT pw.phrase, pw.n_occ,
         CAST(sum((1000000 * ws.degree) // ws.freq) AS BIGINT)
           AS score_micro,
         CAST(count(*) AS BIGINT) AS n_words
  FROM pw JOIN ws ON ws.w = pw.w
  GROUP BY pw.phrase, pw.n_occ
)
SELECT phrase, n_occ, score_micro, n_words,
       CAST(row_number() OVER (ORDER BY score_micro DESC, phrase) AS INT)
         AS rank
FROM scored ORDER BY score_micro DESC, phrase LIMIT 20
"""


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        "lang",
        lang_id(t).alias("lang_pred"),
        (lang_id(t) == F.col("lang")).alias("is_match"),
    )


def _langid_sql() -> str:
    ratio = lambda lang: (  # noqa: E731
        "CASE WHEN len(string_split_regex(lower(trim(text)), '\\s+')) > 0 "
        "THEN CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), "
        f"t -> t IN ({', '.join(repr(w) for w in STOPWORDS[lang])}))) AS DOUBLE) "
        "/ len(string_split_regex(lower(trim(text)), '\\s+')) ELSE 0.0 END"
    )
    langs = sorted(STOPWORDS)
    scores = ", ".join(f"{ratio(l)} AS s_{l}" for l in langs)
    best = f"greatest({', '.join('s_' + l for l in langs)})"
    pred = "CASE"
    for l in langs:
        pred += f" WHEN best > 0 AND s_{l} = best THEN '{l}'"
    pred += " ELSE 'und' END"
    return f"""
WITH scored AS (SELECT doc_id, lang, {scores} FROM documents),
b AS (SELECT *, {best} AS best FROM scored)
SELECT doc_id, lang, {pred} AS lang_pred, ({pred}) = lang AS is_match FROM b
"""


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data hygiene: email/IP/phone spans -> typed placeholders.
    Synthesized PII is appended so the redaction does real work."""
    from cassandra_fs_pp_spark.functions.text import redact_pii

    docs = _t(spark, sf_dir, "documents")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 192.168.1."),
            (F.col("doc_id") % 255).cast("string"),
        ).alias("text"),
    )
    return salted.select("doc_id", redact_pii(F.col("text")).alias("clean"))


PII_ORACLE = r"""
WITH salted AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or 192.168.1.'
              || CAST(doc_id % 255 AS VARCHAR) AS text
  FROM documents
)
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
    '(\+\d{1,3}[\s.-]?)?(\(\d{3}\)[\s.-]?|\d{3}[\s.-])\d{3}[\s.-]?\d{4}\b', '<PHONE>', 'g') AS clean
FROM salted
"""


def text_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucket train/val/test split — reproducible across
    engines and runs (no RNG)."""
    from cassandra_fs_pp_spark.functions.text import deterministic_split

    docs = _t(spark, sf_dir, "documents")
    split = deterministic_split(
        F.col("doc_id"), {"train": 80, "val": 10, "test": 10}
    )
    return (
        docs.select("doc_id", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("id_checksum"),
        )
    )


SPLIT_ORACLE = """
WITH b AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
           AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
       count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM b GROUP BY 1
"""


def curation_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-stratified downsampling: rebalance the corpus by
    keeping ~10% of the dominant language and ~50% of the rest. Pure
    filter predicate — no RNG, no shuffle; scales as a map-only pass."""
    from cassandra_fs_pp_spark.functions.curation import stratified_sample_keep

    docs = _t(spark, sf_dir, "documents")
    rates = {"en": 10, "zh": 50, "es": 50, "de": 50, "fr": 50}
    keep = stratified_sample_keep(F.col("doc_id"), F.col("lang"), rates)
    return (
        docs.filter(keep)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("id_checksum"),
        )
    )


CURATION_SAMPLE_ORACLE = """
WITH b AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
           AS bucket
  FROM documents)
SELECT lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM b
WHERE (lang = 'en' AND bucket < 10)
   OR (lang IN ('zh', 'es', 'de', 'fr') AND bucket < 50)
GROUP BY lang
"""


def curation_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window sequence packing (concat-and-chunk layout): documents
    laid end-to-end in doc_id order; pack_id = floor(start_token / 512).
    One window cumsum — the scalable form of greedy packing."""
    from cassandra_fs_pp_spark.functions.curation import pack_sequences
    from cassandra_fs_pp_spark.functions.text import token_count_ws

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count_ws(F.col("text")).alias("n_tok")
    )
    packed = pack_sequences(docs, "n_tok", order_col="doc_id", ctx_len=512)
    return packed.groupBy("pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("tokens_packed"),
        F.min("doc_id").alias("first_doc"),
    )


CURATION_PACK_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         t -> t <> '')) AS n_tok
  FROM documents),
c AS (
  SELECT doc_id, n_tok,
         sum(n_tok) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
           AS start_tok
  FROM t)
SELECT CAST(floor(start_tok / 512) AS BIGINT) AS pack_id,
       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tokens_packed,
       min(doc_id) AS first_doc
FROM c GROUP BY 1
"""


def curation_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: count distinct 8-gram hashes each train
    document shares with the held-out test split. The eval gram set is
    broadcast; train grams never shuffle."""
    from cassandra_fs_pp_spark.functions.curation import decontaminate
    from cassandra_fs_pp_spark.functions.text import deterministic_split

    docs = _t(spark, sf_dir, "documents")
    split = deterministic_split(
        F.col("doc_id"), {"train": 80, "val": 10, "test": 10}
    )
    tagged = docs.withColumn("split", split)
    return decontaminate(
        tagged.filter(F.col("split") == "train"),
        tagged.filter(F.col("split") == "test"),
        n=8,
    )


CURATION_DECONTAM_ORACLE = r"""
WITH b AS (
  SELECT doc_id, text,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
           AS bucket
  FROM documents),
toks AS (
  SELECT doc_id, bucket,
         string_split_regex(lower(trim(text)), '\s+') AS t
  FROM b),
grams AS (
  SELECT DISTINCT doc_id, bucket,
         ('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15))::BIGINT
           AS gram_hash
  FROM toks, UNNEST(generate_series(1, len(t) - 7)) AS u(i)
  WHERE len(t) >= 8),
ev AS (SELECT DISTINCT gram_hash FROM grams WHERE bucket >= 90),
tr AS (SELECT doc_id, gram_hash FROM grams WHERE bucket < 80)
SELECT tr.doc_id, count(*) AS n_shared_grams
FROM tr JOIN ev USING (gram_hash)
GROUP BY tr.doc_id
"""


def curation_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule filter: per-rule fail counts plus the
    kept-set size and id checksum (pure column expressions; map-only at
    scale; thresholds tuned so each rule discriminates on this corpus)."""
    from cassandra_fs_pp_spark.functions.curation import gopher_quality_flags

    docs = _t(spark, sf_dir, "documents")
    flags = gopher_quality_flags(
        F.col("text"), min_mean_wl=3.5, max_mean_wl=4.6
    )
    keep = ~(
        flags["fail_word_count"]
        | flags["fail_mean_word_len"]
        | flags["fail_stopword_ratio"]
    )
    as_int = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    return docs.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(as_int(flags["fail_word_count"])).alias("n_fail_word_count"),
        F.sum(as_int(flags["fail_mean_word_len"])).alias("n_fail_mean_wl"),
        F.sum(as_int(flags["fail_stopword_ratio"])).alias("n_fail_stopword"),
        F.sum(as_int(keep)).alias("n_kept"),
        F.sum(F.when(keep, F.col("doc_id")).otherwise(0)).alias("id_checksum"),
    )


CURATION_QUALITY_ORACLE = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents),
m AS (
  SELECT doc_id, len(t) AS wc,
         CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t)
           AS mwl,
         CAST(len(list_filter(t, x -> x IN
              ('the','a','of','and','to','in','is','it','that','for')))
              AS DOUBLE) / len(t) AS swr
  FROM t),
f AS (
  SELECT doc_id,
         (wc NOT BETWEEN 20 AND 80) AS f_wc,
         (mwl NOT BETWEEN 3.5 AND 4.6) AS f_mwl,
         (swr < 0.02) AS f_swr
  FROM m)
SELECT count(*) AS n_total,
       CAST(sum(CASE WHEN f_wc THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_word_count,
       CAST(sum(CASE WHEN f_mwl THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_mean_wl,
       CAST(sum(CASE WHEN f_swr THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_stopword,
       CAST(sum(CASE WHEN NOT (f_wc OR f_mwl OR f_swr) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN NOT (f_wc OR f_mwl OR f_swr) THEN doc_id ELSE 0 END)
         AS BIGINT) AS id_checksum
FROM f
"""


def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # whitespace-mutated copies: same fingerprint, different raw text
    shadow = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("  "), F.regexp_replace("text", r"\s+", "  ")).alias("text"),
    )
    return exact_dup_groups(docs.unionByName(shadow))


DEDUP_EXACT_ORACLE = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id,
         '  ' || regexp_replace(text, '\s+', '  ', 'g') AS text
  FROM documents
), fp AS (
  SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
  FROM corpus
)
SELECT fp, count(*) AS n_docs, min(doc_id) AS keep_id,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS all_ids
FROM fp GROUP BY fp HAVING count(*) > 1
"""


MINHASH_K, MINHASH_BANDS = 16, 4


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _doc_corpus_with_near_dups(spark, sf_dir)
    sigs = minhash_signatures_wide(corpus, num_hashes=MINHASH_K)
    pairs = lsh_candidate_pairs(sigs, num_hashes=MINHASH_K, bands=MINHASH_BANDS)
    return jaccard_verify(corpus, pairs, threshold=0.9)


def _minhash_sql() -> str:
    perms = ", ".join(f"({k}, {a}, {b})" for k, a, b in minhash_perms(MINHASH_K))
    rpb = MINHASH_K // MINHASH_BANDS
    return f"""
WITH corpus AS ({_CORPUS_SQL}),
tok AS (
  SELECT doc_id,
         unnest(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS w
  FROM corpus
), h AS (
  SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT % 2147483647 AS hw
  FROM tok
), perms(k, a, b) AS (VALUES {perms}),
sig AS (
  SELECT doc_id, k, min((a * hw + b) % 2147483647) AS mh
  FROM h CROSS JOIN perms GROUP BY doc_id, k
), banded AS (
  SELECT doc_id, CAST(k // {rpb} AS INT) AS band,
         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY k) AS band_sig
  FROM sig GROUP BY doc_id, CAST(k // {rpb} AS INT)
), cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.band_sig = y.band_sig AND x.doc_id < y.doc_id
), sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN tok ta ON ta.doc_id = c.doc_a
  JOIN tok tb ON tb.doc_id = c.doc_b AND ta.w = tb.w
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b, i.n_inter, sa.n AS n_a, sb.n AS n_b,
       i.n_inter / (sa.n + sb.n - i.n_inter) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.n_inter / (sa.n + sb.n - i.n_inter) >= 0.9
"""


def dedup_minhash_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-path dedup: doc -> LSH cluster representative (linear in
    docs; the all-pairs variant above is quadratic on templated corpora)."""
    corpus = _doc_corpus_with_near_dups(spark, sf_dir)
    sigs = minhash_signatures_wide(corpus, num_hashes=MINHASH_K)
    return lsh_cluster_wide(sigs, num_hashes=MINHASH_K, bands=MINHASH_BANDS)


def _minhash_cluster_sql() -> str:
    perms = ", ".join(f"({k}, {a}, {b})" for k, a, b in minhash_perms(MINHASH_K))
    rpb = MINHASH_K // MINHASH_BANDS
    return f"""
WITH corpus AS ({_CORPUS_SQL}),
tok AS (
  SELECT doc_id,
         unnest(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS w
  FROM corpus
), h AS (
  SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT % 2147483647 AS hw
  FROM tok
), perms(k, a, b) AS (VALUES {perms}),
sig AS (
  SELECT doc_id, k, min((a * hw + b) % 2147483647) AS mh
  FROM h CROSS JOIN perms GROUP BY doc_id, k
), banded AS (
  SELECT doc_id, CAST(k // {rpb} AS INT) AS band,
         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY k) AS band_sig
  FROM sig GROUP BY doc_id, CAST(k // {rpb} AS INT)
), bucket AS (
  SELECT band, band_sig, min(doc_id) AS bucket_rep
  FROM banded GROUP BY band, band_sig
)
SELECT b.doc_id, min(k.bucket_rep) AS cluster_rep,
       min(k.bucket_rep) <> b.doc_id AS is_dup
FROM banded b JOIN bucket k USING (band, band_sig)
GROUP BY b.doc_id
"""


WINNOW_K, WINNOW_W = 8, 4


def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing fingerprints: distinct per-doc (doc_id, fp)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 100
    )
    from cassandra_fs_pp_spark.operators.textdedup import winnow_fingerprints

    return winnow_fingerprints(docs, k=WINNOW_K, w=WINNOW_W)


WINNOW_ORACLE = f"""
WITH norm AS (
  SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS s
  FROM documents WHERE doc_id < 100
), kg AS (
  SELECT doc_id,
         list_transform(range(1, greatest(length(s) - {WINNOW_K - 1}, 0) + 1),
           i -> ('0x' || substr(md5(substr(s, i, {WINNOW_K})), 1, 15))::BIGINT
         ) AS kgs
  FROM norm
), fp AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(kgs) - {WINNOW_W - 1}, 0) + 1),
           j -> list_aggregate(list_slice(kgs, j, j + {WINNOW_W - 1}), 'min')
         ))) AS fp
  FROM kg
)
SELECT DISTINCT doc_id, fp FROM fp
"""


SIMHASH_BITS = 32


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _doc_corpus_with_near_dups(spark, sf_dir)
    sh = simhash(corpus, bits=SIMHASH_BITS)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"))
    return (
        a.join(b, on=F.col("doc_b") == F.col("doc_a") + 100000)
        .withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .select("doc_a", "doc_b", "sim_a", "sim_b", "hamming")
    )


SIMHASH_ORACLE = f"""
WITH corpus AS ({_CORPUS_SQL}),
tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
  FROM corpus
), h AS (
  SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS hw FROM tok
), bits AS (SELECT range AS bit FROM range({SIMHASH_BITS})),
votes AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (hw >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h CROSS JOIN bits GROUP BY doc_id, bit
), sh AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s >= 0 THEN CAST(pow(2, bit) AS BIGINT)
           ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       a.simhash AS sim_a, b.simhash AS sim_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 100000
"""


def dedup_simhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded simhash near-dup search: bucket self-join on band values +
    exact hamming verify (exact recall for hamming < bands)."""
    from cassandra_fs_pp_spark.operators.textdedup import simhash_band_pairs

    corpus = _doc_corpus_with_near_dups(spark, sf_dir)
    sh = simhash(corpus, bits=SIMHASH_BITS)
    return simhash_band_pairs(
        sh, bits=SIMHASH_BITS, bands=4, max_hamming=3
    )


SIMHASH_BANDED_ORACLE = f"""
WITH corpus AS ({_CORPUS_SQL}),
tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
  FROM corpus
), h AS (
  SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS hw FROM tok
), bits AS (SELECT range AS bit FROM range({SIMHASH_BITS})),
votes AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (hw >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h CROSS JOIN bits GROUP BY doc_id, bit
), sh AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s >= 0 THEN CAST(pow(2, bit) AS BIGINT)
           ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
), banded AS (
  SELECT doc_id, simhash, b.range AS band,
         (simhash >> CAST(b.range * 8 AS INT)) & 255 AS bval
  FROM sh CROSS JOIN range(4) b
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS fp_a, b.simhash AS fp_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(fp_a, fp_b)) AS hamming
FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 3
"""


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram Jaccard between each doc and its near-dup mutation —
    array_intersect/array_union JVM ops, no explode needed for fixed pairs.

    SHIFT-SAFE (r13): the original/mutated side split is on
    ``pmod(doc_id, SHIFT)`` — the corpus helper adds +100000 to mutated
    ids, so the LOCAL (within-shift) id band classifies sides no matter
    how probe corpora stride the ids (ids at 100 TB are never
    magnitude-banded; the old ABSOLUTE ``doc_id < 100000`` split broke on
    any shifted corpus).  Bigrams enumerate all ``size-1`` adjacent word
    pairs, guarded for <2-token docs (an unguarded ``sequence(0,
    size-2-1)`` both dropped the last bigram of every doc AND emitted a
    spurious lone-token gram on 1-2-token texts)."""
    corpus = _doc_corpus_with_near_dups(spark, sf_dir)
    bigrams = F.array_distinct(
        F.expr(
            "case when size(__ws) >= 2 then"
            " transform(sequence(0, size(__ws) - 2),"
            " i -> concat_ws(' ', __ws[i], __ws[i+1]))"
            " else cast(array() as array<string>) end"
        )
    )
    g = corpus.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("__ws")
    ).select("doc_id", bigrams.alias("grams"))
    local = F.pmod(F.col("doc_id"), F.lit(_ID_STRIDE))
    a = g.filter(local < 100000).select(
        F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga")
    )
    b = g.filter(local >= 100000).select(
        (F.col("doc_id") - 100000).alias("doc_a"), F.col("grams").alias("gb")
    )
    return (
        a.join(b, on="doc_a")
        .select(
            "doc_a",
            F.size(F.array_intersect("ga", "gb")).alias("n_inter"),
            F.size(F.array_union("ga", "gb")).alias("n_union"),
            (
                F.size(F.array_intersect("ga", "gb"))
                / F.size(F.array_union("ga", "gb"))
            ).alias("jaccard"),
        )
    )


NGRAM_JACCARD_ORACLE = f"""
WITH corpus AS ({_CORPUS_SQL}),
g AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(ws) >= 2 THEN
           list_transform(range(1, len(ws)),
             i -> ws[i] || ' ' || ws[i + 1])
           ELSE CAST([] AS VARCHAR[]) END) AS grams
  FROM (SELECT doc_id,
               string_split_regex(lower(trim(text)), '\\s+') AS ws
        FROM corpus)
)
SELECT a.doc_id AS doc_a,
       len(list_intersect(a.grams, b.grams)) AS n_inter,
       len(list_distinct(a.grams || b.grams)) AS n_union,
       len(list_intersect(a.grams, b.grams))
         / len(list_distinct(a.grams || b.grams)) AS jaccard
FROM g a JOIN g b ON b.doc_id = a.doc_id + 100000
WHERE a.doc_id % 10000000 < 100000
"""


def dedup_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs exact word-set Jaccard join at >= 0.6 via prefix filtering
    (operators/textdedup.py ``set_similarity_join`` — PPJoin-family
    blocking: rarest-token prefixes + length filter generate candidates
    through a hash equi-join, never a cross join; the oracle is the
    exact all-intersecting-pairs SQL).  Beyond-parity LLM-dedup operator
    (the reference has no similarity join)."""
    from cassandra_fs_pp_spark.operators.textdedup import set_similarity_join

    corpus = _doc_corpus_with_near_dups(spark, sf_dir)
    # 4-word shingles (the standard dedup shingle width): the synthetic
    # corpus has a ~31-word vocabulary, so unigrams/bigrams saturate (a
    # fixed 961-bigram space makes every doc pair a candidate — quadratic
    # at any corpus size).  The 31^4 shingle space keeps candidate volume
    # proportional to TRUE near-dup density, which is what the prefix
    # filter delivers on real text.  The word split is materialized once
    # per row (__ws) so the transform does not re-split per element.
    toks = corpus.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("__ws")
    ).select(
        "doc_id",
        F.expr(
            "case when size(__ws) >= 4 then"
            " transform(sequence(0, size(__ws) - 4),"
            " i -> concat_ws(' ', __ws[i], __ws[i+1], __ws[i+2], __ws[i+3]))"
            " else cast(array() as array<string>) end"
        ).alias("toks"),
    )
    out = set_similarity_join(toks, "doc_id", "toks", threshold=0.6)
    return out.select(
        "doc_a",
        "doc_b",
        F.col("n_inter").cast("long").alias("n_inter"),
        F.col("n_union").cast("long").alias("n_union"),
        "jaccard",
    )


DEDUP_SETSIM_ORACLE = f"""
WITH corpus AS ({_CORPUS_SQL}),
w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM corpus
),
g AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(ws) - 2, 1)),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]))
           AS toks
  FROM w
),
e AS (
  SELECT doc_id, len(toks) AS n, unnest(toks) AS tok FROM g
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_inter,
         CAST(any_value(a.n) + any_value(b.n) - count(*) AS BIGINT) AS n_union
  FROM e a JOIN e b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_inter, n_union,
       n_inter / n_union AS jaccard
FROM cand
WHERE CAST(n_inter AS DOUBLE) >= 0.6 * CAST(n_union AS DOUBLE)
"""


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional sub-document detection: ordered pairs with shingle
    containment |A∩B|/|A| >= 0.8 (operators/textdedup.py
    ``containment_join`` — A-side-only prefix filter, B unpruned; exact
    all-intersecting-pairs SQL oracle).  Catches near-fully-quoted docs
    symmetric Jaccard misses when B is much larger."""
    from cassandra_fs_pp_spark.operators.textdedup import containment_join

    corpus = _doc_corpus_with_near_dups(spark, sf_dir)
    toks = corpus.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("__ws")
    ).select(
        "doc_id",
        F.expr(
            "case when size(__ws) >= 4 then"
            " transform(sequence(0, size(__ws) - 4),"
            " i -> concat_ws(' ', __ws[i], __ws[i+1], __ws[i+2], __ws[i+3]))"
            " else cast(array() as array<string>) end"
        ).alias("toks"),
    )
    return containment_join(toks, "doc_id", "toks", threshold=0.8)


DEDUP_CONTAINMENT_ORACLE = f"""
WITH corpus AS ({_CORPUS_SQL}),
w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM corpus
),
g AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(ws) - 2, 1)),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]))
           AS toks
  FROM w
),
e AS (
  SELECT doc_id, len(toks) AS n, unnest(toks) AS tok FROM g
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_inter,
         CAST(any_value(a.n) AS BIGINT) AS n_a
  FROM e a JOIN e b ON a.tok = b.tok AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_inter, n_a,
       n_inter / n_a AS containment
FROM cand
WHERE CAST(n_inter AS DOUBLE) >= 0.8 * CAST(n_a AS DOUBLE)
"""


def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(
        emb, k=5, queries=emb.filter(F.col("vec_id") < 50)
    )


ANN_BRUTE_ORACLE = """
WITH pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
         / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
          * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])))
           AS cosine
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 50
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM pairs
) WHERE rank <= 5
"""


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe-pruned approximate top-k.  FULL SQL oracle since r3: the
    coarse structure (per-label mean centroids, top-2 probe cells, exact
    rerank) is all SQL-expressible, and the probe boundary is robust —
    measured min |cos(probe2) − cos(probe3)| gap at sf0.01 is 8.45e-05,
    ~11 orders above any cross-engine avg()-summation-order ulp drift.
    Recall vs brute force is additionally asserted in tests."""
    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(emb, k=5, nprobe=2)


ANN_IVF_ORACLE = """
WITH cent AS (
  SELECT label AS cell, i AS pos,
         CAST(sum(CAST(round(embedding[i]::DOUBLE * 1000000000) AS BIGINT))
              AS DOUBLE) / 1000000000.0 / count(*) AS m
  FROM embeddings, range(1, 65) t(i)
  GROUP BY label, i
), cvec AS (
  SELECT cell, list(m ORDER BY pos) AS centroid FROM cent GROUP BY cell
), probes AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT e.vec_id, c.cell,
           list_dot_product(e.embedding::DOUBLE[], c.centroid)
             / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                      e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(c.centroid, c.centroid))) AS cc,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.embedding::DOUBLE[], c.centroid)
                    / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                             e.embedding::DOUBLE[]))
                     * sqrt(list_dot_product(c.centroid, c.centroid))) DESC,
                      c.cell) AS cr
    FROM embeddings e CROSS JOIN cvec c
  ) WHERE cr <= 2
), scored AS (
  SELECT p.query_id, n.vec_id AS neighbor_id,
         list_dot_product(q.embedding::DOUBLE[], n.embedding::DOUBLE[])
           / (sqrt(list_dot_product(q.embedding::DOUBLE[],
                                    q.embedding::DOUBLE[]))
            * sqrt(list_dot_product(n.embedding::DOUBLE[],
                                    n.embedding::DOUBLE[]))) AS cosine
  FROM probes p
  JOIN embeddings q ON q.vec_id = p.query_id
  JOIN embeddings n ON n.label = p.cell AND n.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM scored
) WHERE rank <= 5
"""


# 6 sign bits = 64 buckets/table: ~n/64 candidates per query per table
# (4 bits left each query colliding with ~46% of the corpus — quadratic in
# practice). The oracle derives from the same constants, so bucket choice
# never affects correctness parity, only the recall/cost point.
LSH_TABLES, EMB_DIM = 4, 64
LSH_TARGET_BUCKET = 32  # expected vectors per bucket


def _lsh_bits(n: int) -> int:
    """Bucket-count knob as a FUNCTION of corpus size: 2^bits buckets per
    table sized so the expected bucket holds ~LSH_TARGET_BUCKET vectors.
    With bits fixed, per-bucket candidate pairs grow quadratically as the
    corpus grows; scaling bits with log2(n) keeps candidates O(n) — the
    8x probe in SCALE.md grades exactly this."""
    import math

    return max(4, round(math.log2(max(n, 1) / LSH_TARGET_BUCKET)))


def _parquet_num_rows(sf_dir: str, name: str) -> int | None:
    """Exact row count from parquet FOOTER metadata (no Spark job).  Both
    this and the oracle's ``_gate_embeddings_count`` read the same footer,
    so the two sides can never disagree on the derived LSH bit count.

    None (logged) when a file is missing or unreadable; a corrupt footer
    raises."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as pq

    path = _os.path.join(sf_dir, f"{name}.parquet")
    files = (
        sorted(_glob.glob(_os.path.join(path, "*.parquet")))
        if _os.path.isdir(path)
        else [path]
    )
    try:
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except OSError as exc:
        log.warning("parquet footer row count unavailable for %s: %s", path, exc)
        return None


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table hyperplane-LSH approximate top-k (the second scale path
    beside IVF) — deterministic seeded planes, fully oracle-checkable (the
    oracle derives the same bits from the gate corpus's row count).

    Corpus size comes from parquet footer metadata, not ``df.count()`` — a
    count job per plan build is pure latency here and at 100 TB the footer
    statistic is how you'd size the tables anyway."""
    from cassandra_fs_pp_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings", spread=False)
    n = _parquet_num_rows(sf_dir, "embeddings")
    if n is None:
        n = emb.count()
    bits = _lsh_bits(n)
    return lsh_topk(
        emb, k=5, bits=bits, tables=LSH_TABLES, dim=EMB_DIM, corpus_rows=n
    )


def _gate_embeddings_count() -> int:
    """Row count of the correctness-gate corpus via parquet footer metadata
    (no Spark needed).  Reads the SAME directory the gate points Spark at —
    $SF_DIR, defaulting to the driver's sf0.01 — so the oracle's LSH bit
    count always matches the Spark side's live-corpus-derived bits no
    matter which scale the gate runs (ADVICE r2).

    A missing or unreadable file falls back to 200 rows with a warning
    naming the path (the oracle's bit count then need not match the
    Spark side's); a corrupt footer raises."""
    import os as _os

    import pyarrow.parquet as pq

    sf_dir = _os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    path = _os.path.join(sf_dir, "embeddings.parquet")
    try:
        return pq.ParquetFile(path).metadata.num_rows
    except OSError as exc:
        log.warning(
            "cannot read the gate corpus footer %s (%s): the LSH oracle "
            "assumes 200 rows", path, exc,
        )
        return 200


def _lsh_topk_sql() -> str:
    from cassandra_fs_pp_spark.operators.similarity import hyperplane_lsh_perms

    bits = _lsh_bits(_gate_embeddings_count())

    def bucket_expr(t: int) -> str:
        planes = hyperplane_lsh_perms(bits, EMB_DIM, 7 + t)
        return " + ".join(
            f"(CASE WHEN list_dot_product(embedding::DOUBLE[], "
            f"[{', '.join(repr(x) for x in plane)}]::DOUBLE[]) >= 0 "
            f"THEN {1 << b} ELSE 0 END)"
            for b, plane in enumerate(planes)
        )

    buckets = ",\n         ".join(
        f"{bucket_expr(t)} AS bucket_{t}" for t in range(LSH_TABLES)
    )
    cand_union = "\n  UNION\n".join(
        f"  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id\n"
        f"  FROM b q JOIN b c ON q.bucket_{t} = c.bucket_{t} "
        f"AND q.vec_id <> c.vec_id"
        for t in range(LSH_TABLES)
    )
    return f"""
WITH b AS (
  SELECT vec_id, embedding,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm,
         {buckets}
  FROM embeddings
), cand AS (
{cand_union}
), pairs AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
           / (q.nrm * c.nrm) AS cosine
  FROM cand
  JOIN b q ON q.vec_id = cand.query_id
  JOIN b c ON c.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM pairs
) WHERE rank <= 5
"""


def emb_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    shadow = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"), F.col("embedding")
    )
    return embedding_near_dups(
        emb.unionByName(shadow), threshold=0.45
    )


EMB_NEAR_DUPS_ORACLE = """
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
       / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
        * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
         AS cosine
FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
       * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
      >= 0.45
"""


def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (long form). Cross-row reductions run
    as exact fixed-point integer sums — partitioning can never leak into
    the values (see operators/similarity.py VEC_FIXED_SCALE)."""
    from cassandra_fs_pp_spark.operators.similarity import label_centroids

    return label_centroids(_t(spark, sf_dir, "embeddings"))


EMB_CENTROIDS_ORACLE = """
WITH ex AS (
  SELECT label, i - 1 AS pos, embedding[i] AS c
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i))
SELECT label, pos,
       CAST(sum(CAST(round(CAST(c AS DOUBLE) * 1000000000) AS BIGINT))
            AS DOUBLE) / 1000000000.0 / count(*) AS centroid,
       count(*) AS n_vecs
FROM ex GROUP BY label, pos
"""


def emb_label_inertia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means-style within-cluster inertia per label against the label
    centroids (two-stage: tiny centroid table broadcast onto the exploded
    fact; exact fixed-point reductions at both levels)."""
    from cassandra_fs_pp_spark.operators.similarity import label_inertia

    return label_inertia(_t(spark, sf_dir, "embeddings", spread=False))


EMB_INERTIA_ORACLE = """
WITH ex AS (
  SELECT vec_id, label, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS c
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)),
cent AS (
  SELECT label, pos,
         CAST(sum(CAST(round(c * 1000000000) AS BIGINT)) AS DOUBLE)
           / 1000000000.0 / count(*) AS centroid
  FROM ex GROUP BY label, pos),
per_vec AS (
  SELECT vec_id, ex.label,
         sum(CAST(round((c - centroid) * (c - centroid) * 1000000000)
             AS BIGINT)) AS sq_dist_scaled
  FROM ex JOIN cent ON ex.label = cent.label AND ex.pos = cent.pos
  GROUP BY vec_id, ex.label)
SELECT label,
       CAST(sum(sq_dist_scaled) AS DOUBLE) / 1000000000.0 AS inertia,
       CAST(sum(sq_dist_scaled) AS DOUBLE) / 1000000000.0 / count(*)
         AS mean_sq_dist,
       count(*) AS n_vecs
FROM per_vec GROUP BY label
"""


def text_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: top-20 tokens by total occurrences with
    document frequency — the wordcount-at-scale shape (map-side partial
    agg; only the tiny top-k crosses to the driver)."""
    from cassandra_fs_pp_spark.functions.text import whitespace_tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("tok")
    )
    return (
        toks.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_total"), F.asc("tok"))
        .limit(20)
    )


TOKEN_TOPK_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents)
SELECT tok, count(*) AS n_total, count(DISTINCT doc_id) AS n_docs
FROM toks GROUP BY tok
ORDER BY n_total DESC, tok ASC
LIMIT 20
"""


def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact connected components (iterative min-label propagation to a
    fixpoint) over the part↔supplier co-purchase graph, reported as
    per-component size profiles. The iterative primitive behind
    transitive duplicate clustering / entity resolution; the oracle is a
    recursive-CTE transitive closure — exponentially more expensive, which
    is why the engine runs propagation instead."""
    from cassandra_fs_pp_spark.operators.graph import connected_components

    li = _t(spark, sf_dir, "lineitem")
    # parity namespace encoding (r13, shift-safe): part nodes are even
    # (2*partkey), supplier nodes odd (2*suppkey+1) — injective for any
    # key magnitude, and membership is node%2, never an absolute id band
    # (the old `1000000 + suppkey` offset classified by `node < 1000000`,
    # which miscounts as soon as keys exceed the band — at 100 TB ids are
    # not magnitude-banded)
    edges = (
        li.filter((F.col("l_quantity") == 50) & (F.col("l_discount") > 0.08))
        .select(
            (F.col("l_partkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    comp = connected_components(edges)
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.when(F.pmod(F.col("node"), F.lit(2)) == 0, 1).otherwise(0)).alias(
            "n_parts"
        ),
        F.sum(F.when(F.pmod(F.col("node"), F.lit(2)) == 1, 1).otherwise(0)).alias(
            "n_supps"
        ),
        F.max("node").alias("max_node"),
    )


GRAPH_CC_ORACLE = """
WITH RECURSIVE
edges AS (
  SELECT DISTINCT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b
  FROM lineitem WHERE l_quantity = 50 AND l_discount > 0.08),
und AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
reach(a, b) AS (
  SELECT DISTINCT a, a AS b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
comp AS (SELECT a AS node, min(b) AS component FROM reach GROUP BY a)
SELECT component, count(*) AS n_nodes,
       CAST(sum(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_parts,
       CAST(sum(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_supps,
       max(node) AS max_node
FROM comp GROUP BY component
"""


# --------------------------------------------------------------------------
# Window/join/agg breadth: W2 centered time median, W3 count-window median,
# W4 trailing mean with min_periods, W7 ts deltas, W10 first-after, J3 outer
# align, J6 sensor-dim attach, A4 distinct counts, cube, R1 melt, P5 regex
# projection (SURVEY §2.3-2.9 completion).
# --------------------------------------------------------------------------

from cassandra_fs_pp_spark.operators.windows import row_frame  # noqa: E402


def _daily_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day_ts")).agg(
        F.round(F.sum("value"), 3).alias("day_value")
    )


_DAILY_SQL = """
  SELECT user_id, date_trunc('day', ts) AS day_ts,
         round(sum(value), 3) AS day_value
  FROM events GROUP BY 1, 2
"""


def w2_centered_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_by_user(spark, sf_dir)
    frame = time_frame(
        "day_ts", before_s=129600, after_s=129600, partition_by=["user_id"]
    )
    return daily.withColumn(
        "med_c3d", F.round(rolling_median("day_value", frame), 4)
    )


W2_ORACLE = f"""
WITH daily AS ({_DAILY_SQL})
SELECT user_id, day_ts, day_value,
       round(median(day_value) OVER (
         PARTITION BY user_id ORDER BY epoch(day_ts)
         RANGE BETWEEN 129600 PRECEDING AND 129600 FOLLOWING), 4) AS med_c3d
FROM daily
"""


def w3_count_window_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_by_user(spark, sf_dir)
    frame = row_frame("day_ts", before=1, after=1, partition_by=["user_id"])
    return daily.withColumn(
        "med_r3", F.round(rolling_median("day_value", frame), 4)
    )


W3_ORACLE = f"""
WITH daily AS ({_DAILY_SQL})
SELECT user_id, day_ts, day_value,
       round(median(day_value) OVER (
         PARTITION BY user_id ORDER BY day_ts
         ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING), 4) AS med_r3
FROM daily
"""


def w_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel outlier filter over per-user daily series (decomposed
    two-pass form: each row's deviation uses its OWN centered median, and
    the rolling MAD is the centered median of those deviations — the
    SQL-expressible variant, identical nested windows on both engines).
    Flag = |x - med| > 3 * 1.4826 * mad.  The robust alternative to
    z-score spike detection for sensor streams (P9's threshold-vs-
    rolling-median generalized to a scale-aware gate)."""
    daily = _daily_by_user(spark, sf_dir)
    frame = row_frame("day_ts", before=3, after=3, partition_by=["user_id"])
    with_med = daily.withColumn(
        "med", rolling_median("day_value", frame)
    ).withColumn("dev", F.abs(F.col("day_value") - F.col("med")))
    out = with_med.withColumn("mad", rolling_median("dev", frame))
    return out.select(
        "user_id",
        "day_ts",
        "day_value",
        F.round("med", 4).alias("med"),
        F.round("mad", 4).alias("mad"),
        (F.col("dev") > F.lit(3.0) * F.lit(1.4826) * F.col("mad")).alias(
            "is_outlier"
        ),
    )


W_HAMPEL_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
m AS (
  SELECT user_id, day_ts, day_value,
         median(day_value) OVER (
           PARTITION BY user_id ORDER BY day_ts
           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS med
  FROM daily),
d AS (
  SELECT *, abs(day_value - med) AS dev FROM m),
x AS (
  SELECT *, median(dev) OVER (
           PARTITION BY user_id ORDER BY day_ts
           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS mad
  FROM d)
SELECT user_id, day_ts, day_value,
       round(med, 4) AS med, round(mad, 4) AS mad,
       dev > 3.0 * 1.4826 * mad AS is_outlier
FROM x
"""


def w_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands over per-user daily series: trailing 7-row mean ±
    2 sample stddevs, with breakout flags — the volatility-envelope
    sibling of the Hampel gate (mean/stddev where Hampel is
    median/MAD)."""
    daily = _daily_by_user(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("day_ts")
        .rowsBetween(-6, Window.currentRow)
    )
    mid = F.avg("day_value").over(w)
    sd = F.stddev_samp("day_value").over(w)
    return daily.select(
        "user_id",
        "day_ts",
        "day_value",
        F.round(mid, 6).alias("bb_mid"),
        F.round(mid + 2 * sd, 6).alias("bb_hi"),
        F.round(mid - 2 * sd, 6).alias("bb_lo"),
        # single-row windows have NULL stddev -> no band -> not a breakout
        F.coalesce(F.col("day_value") > mid + 2 * sd, F.lit(False)).alias(
            "breakout_hi"
        ),
        F.coalesce(F.col("day_value") < mid - 2 * sd, F.lit(False)).alias(
            "breakout_lo"
        ),
    )


W_BOLLINGER_ORACLE = f"""
WITH daily AS ({_DAILY_SQL})
SELECT user_id, day_ts, day_value,
       round(avg(day_value) OVER w, 6) AS bb_mid,
       round(avg(day_value) OVER w + 2 * stddev_samp(day_value) OVER w, 6)
         AS bb_hi,
       round(avg(day_value) OVER w - 2 * stddev_samp(day_value) OVER w, 6)
         AS bb_lo,
       coalesce(day_value > avg(day_value) OVER w
                + 2 * stddev_samp(day_value) OVER w, false) AS breakout_hi,
       coalesce(day_value < avg(day_value) OVER w
                - 2 * stddev_samp(day_value) OVER w, false) AS breakout_lo
FROM daily
WINDOW w AS (PARTITION BY user_id ORDER BY day_ts
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


def a_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-1 and lag-7 autocorrelation of the daily series
    (Pearson corr of the series against its lag) — the seasonality /
    persistence screen before fitting any forecaster."""
    daily = _daily_by_user(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("day_ts")
    lagged = daily.select(
        "user_id",
        "day_value",
        F.lag("day_value", 1).over(w).alias("l1"),
        F.lag("day_value", 7).over(w).alias("l7"),
    )
    return lagged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.corr("day_value", "l1"), 6).alias("acf_1"),
        F.round(F.corr("day_value", "l7"), 6).alias("acf_7"),
    )


A_AUTOCORR_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
l AS (
  SELECT user_id, day_value,
         lag(day_value, 1) OVER w AS l1,
         lag(day_value, 7) OVER w AS l7
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY day_ts))
SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
       round(corr(day_value, l1), 6) AS acf_1,
       round(corr(day_value, l7), 6) AS acf_7
FROM l GROUP BY user_id
"""


def layout_file_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-layout audit from the scan's ``_metadata`` hidden column:
    rows per parquet file plus the small-file / skew signals a compaction
    policy watches (the table-maintenance primitive for any lakehouse
    layout).  One row: file count, total rows, min/max per-file rows,
    skew ratio."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    per_file = (
        ev.select(F.col("_metadata.file_name").alias("f"))
        .groupBy("f")
        .agg(F.count(F.lit(1)).alias("rows"))
    )
    return per_file.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("rows").cast("long").alias("total_rows"),
        F.min("rows").alias("min_rows"),
        F.max("rows").alias("max_rows"),
        F.round(
            F.max("rows").cast("double") / F.min("rows").cast("double"), 6
        ).alias("skew_ratio"),
    )


LAYOUT_FILE_STATS_ORACLE_TEMPLATE = """
WITH per AS (
  SELECT parse_filename(filename) AS f, CAST(count(*) AS BIGINT) AS rows
  FROM read_parquet('{path}', filename=true) GROUP BY 1)
SELECT CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(rows) AS BIGINT) AS total_rows,
       min(rows) AS min_rows, max(rows) AS max_rows,
       round(CAST(max(rows) AS DOUBLE) / CAST(min(rows) AS DOUBLE), 6)
         AS skew_ratio
FROM per
"""


def _layout_file_stats_oracle() -> str:
    import os as _os

    sf_dir = _os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    # driver testdata ships each table as ONE parquet file; a Spark-style
    # directory would need the '<dir>/**/*.parquet' glob instead
    path = _os.path.join(sf_dir, "events.parquet")
    if _os.path.isdir(path):
        path = _os.path.join(path, "**", "*.parquet")
    return LAYOUT_FILE_STATS_ORACLE_TEMPLATE.format(path=path)


def w_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-row OLS slope of each user's daily series (covar_pop /
    var_pop over the window — a_linreg_trend's closed form made rolling).
    Null where the window has a single row (zero x-variance)."""
    daily = _daily_by_user(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("day_ts")
        .rowsBetween(-6, Window.currentRow)
    )
    # Exact-integer window sums: day_ts is midnight (epoch divisible by
    # 86400) and day_value is 3-dp — so x (days) and y (millis) are exact
    # int64 and the OLS slope reduces to ONE int-ratio division, identical
    # in both engines.  covar_pop/var_pop window aggregates use different
    # one-pass update orders per engine and drift across round(·, 6) ties.
    x = (F.col("day_ts").cast("double") / F.lit(86400.0)).cast("long")
    y = F.round(F.col("day_value") * 1000).cast("long")
    with_x = daily.select(
        "user_id", "day_ts", "day_value", x.alias("x"), y.alias("y")
    )
    n = F.count(F.lit(1)).over(w)
    sx = F.sum("x").over(w)
    sy = F.sum("y").over(w)
    sxy = F.sum(F.col("x") * F.col("y")).over(w)
    sxx = F.sum(F.col("x") * F.col("x")).over(w)
    num = (n * sxy - sx * sy).cast("double")
    den = (n * sxx - sx * sx).cast("double")
    # Emitted RAW (no round): both factors are exact int64, so the two
    # divisions are single correctly-rounded IEEE ops — bit-identical
    # cross-engine at any SF. round(·, 6) would REINTRODUCE drift: Spark
    # rounds the exact decimal expansion (BigDecimal HALF_UP) while
    # DuckDB multiply-round-divides in binary, and the two disagree on
    # ~.5e-6 boundary values (found by the r11 sf0.1 sweep: one row,
    # |diff| = 1e-6).
    slope = num / F.nullif(den, F.lit(0.0)) / F.lit(1000.0)
    return with_x.select(
        "user_id",
        "day_ts",
        "day_value",
        slope.alias("slope_7d"),
        n.cast("int").alias("n_window"),
    )


W_ROLLING_SLOPE_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
d AS (SELECT user_id, day_ts, day_value,
             CAST(epoch(day_ts) / 86400.0 AS BIGINT) AS x,
             CAST(round(day_value * 1000) AS BIGINT) AS y
      FROM daily),
s AS (
  SELECT user_id, day_ts, day_value,
         CAST(count(*) OVER w AS BIGINT) AS n,
         CAST(sum(x) OVER w AS BIGINT) AS sx,
         CAST(sum(y) OVER w AS BIGINT) AS sy,
         CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
         CAST(sum(x * x) OVER w AS BIGINT) AS sxx
  FROM d
  WINDOW w AS (PARTITION BY user_id ORDER BY day_ts
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
SELECT user_id, day_ts, day_value,
       CAST(n * sxy - sx * sy AS DOUBLE)
             / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0.0) / 1000.0
         AS slope_7d,
       CAST(n AS INT) AS n_window
FROM s
"""


def w4_trailing_mean_minp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day mean over per-user daily sums, null below min_periods=3
    (pandas ``rolling('24H', min_periods=10)`` shape at daily grain)."""
    daily = _daily_by_user(spark, sf_dir)
    frame = time_frame("day_ts", before_s=6 * 86400, partition_by=["user_id"])
    dec_sum = F.sum(F.col("day_value").cast("decimal(18,3)")).over(frame)
    cnt = F.count("day_value").over(frame)
    return daily.withColumn(
        "mean_7d",
        F.when(cnt >= 3, F.round(dec_sum.cast("double") / cnt, 8)),
    )


W4_ORACLE = f"""
WITH daily AS ({_DAILY_SQL})
SELECT user_id, day_ts, day_value,
       CASE WHEN count(day_value) OVER w >= 3
            THEN round(CAST(sum(CAST(day_value AS DECIMAL(18,3))) OVER w
                       AS DOUBLE) / count(day_value) OVER w, 8)
       END AS mean_7d
FROM daily
WINDOW w AS (PARTITION BY user_id ORDER BY epoch(day_ts)
             RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW)
"""


def w7_ts_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.floor(
            ts_delta_seconds("ts", partition_by=["user_id"], tiebreak=["event_id"])
        ).alias("delta_s"),
    )


W7_ORACLE = """
SELECT event_id, user_id, ts,
       CAST(floor(epoch(ts)) AS BIGINT)
         - CAST(floor(epoch(lag(ts) OVER (
             PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) AS delta_s
FROM events
"""


def w10_first_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("ts") >= F.lit("2024-01-15 00:00:00"))
        .orderBy("ts", "event_id")
        .limit(1)
        .select("event_id", "ts", "user_id", "value")
    )


W10_ORACLE = """
SELECT event_id, ts, user_id, value FROM events
WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
ORDER BY ts, event_id LIMIT 1
"""


def j3_outer_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horizontal concat of two per-type daily series = full-outer on time."""
    ev = _t(spark, sf_dir, "events")

    def _series(etype: str, out: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .groupBy(F.date_trunc("day", "ts").alias("day_ts"))
            .agg(F.round(F.sum("value"), 3).alias(out))
        )

    return _series("click", "click_sum").join(
        _series("error", "err_sum"), on="day_ts", how="full_outer"
    )


J3_ORACLE = """
SELECT day_ts, click_sum, err_sum
FROM (SELECT date_trunc('day', ts) AS day_ts, round(sum(value), 3) AS click_sum
      FROM events WHERE event_type = 'click' GROUP BY 1) a
FULL JOIN
     (SELECT date_trunc('day', ts) AS day_ts, round(sum(value), 3) AS err_sum
      FROM events WHERE event_type = 'error' GROUP BY 1) b
USING (day_ts)
"""


def j6_dim_attach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long fact (time, sensor_id, value) + broadcast sensor dim with
    install depth (the xarray-coordinate attach, SURVEY §2.4 J6)."""
    ev = _t(spark, sf_dir, "events")
    nation = _t(spark, sf_dir, "nation")
    fact = ev.select(
        "ts", (F.col("user_id") % 25).alias("sensor_id"), "value"
    )
    dim = nation.select(
        F.col("n_nationkey").alias("sensor_id"),
        F.round(F.col("n_nationkey") * -0.15, 4).alias("install_depth"),
    )
    return (
        fact.join(F.broadcast(dim), on="sensor_id", how="left")
        .groupBy("sensor_id", "install_depth")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 3).alias("sum_value"),
        )
    )


J6_ORACLE = """
SELECT sensor_id, install_depth, count(*) AS n,
       round(sum(value), 3) AS sum_value
FROM (SELECT ts, user_id % 25 AS sensor_id, value FROM events) f
LEFT JOIN (SELECT n_nationkey AS sensor_id,
                  round(n_nationkey * -0.15, 4) AS install_depth FROM nation) d
USING (sensor_id)
GROUP BY 1, 2
"""


def a4_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(F.to_date("ts")).alias("n_days"),
    )


A4_ORACLE = """
SELECT event_type, count(*) AS n,
       count(DISTINCT user_id) AS n_users,
       count(DISTINCT CAST(ts AS DATE)) AS n_days
FROM events GROUP BY 1
"""


HLL_DET_M = 1024  # registers (b = 10 index bits of the 60-bit hash)
# alpha_m * m^2 * 2^51 — ONE Python-computed double, embedded as the same
# literal in both engines, so the estimate is a single deterministic
# divide of two exactly-agreed values
HLL_DET_ALPHA_NUM = (
    0.7213 / (1.0 + 1.079 / HLL_DET_M) * HLL_DET_M * HLL_DET_M * float(1 << 51)
)


def a_hll_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch deterministic HyperLogLog with a FULL cross-engine
    oracle (r15) — the exact-parity complement to the native-sketch trio
    (``a_approx_distinct`` / ``a_hll_mergeable`` are rows-only forever:
    engine-specific register layouts). Every piece is integer-exact:

    * 60-bit md5 hash -> register index ``h % 1024`` + 50-bit suffix
      ``w = h div 1024``; rank ``rho = 51 - bit_length(w)`` (via
      ``length(bin(w))`` — identical strings in Spark and DuckDB);
    * per-key registers = ``max(rho)`` per (event_type, register) —
      map-side-combinable, bounded by keys x 1024 rows;
    * MERGE is register-wise max (associative/commutative — the
      property that makes HLL the 100 TB cardinality sketch); the
      ``__merged__`` row is built from the per-key register table and
      a pytest asserts it equals the direct global computation;
    * harmonic denominator ``sum(2^(51-rho))`` is an exact BIGINT
      (<= 1024 * 2^51 = 2^61), absent registers contribute ``2^51``;
      the estimate is one double divide of two exactly-agreed values;
      the small-range linear-counting leg uses the house nano-nat
      idiom: one ``ln`` whose INPUT ``m / zeros`` is computed from
      exactly-agreed integers (the quotient itself is generally not
      exactly representable, and Java ``Math.log`` vs DuckDB libm may
      differ in the final ulp — a result within an ulp of a .5-nano
      boundary could round differently cross-engine; the same
      negligible residual every nano-nat call site carries), rounded
      to integer nanos in-engine (ADVICE r15 wording fix).
    """
    from cassandra_fs_pp_spark.functions.text import hash60

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        F.col("event_type").alias("key"),
        hash60(F.col("user_id").cast("string")).alias("h"),
    ).select(
        "key",
        F.expr("cast(h % 1024 as int)").alias("reg"),
        F.expr("h div 1024").alias("w"),
    ).select(
        "key",
        "reg",
        F.expr(
            "cast(case when w > 0 then 51 - length(bin(w)) else 51 end"
            " as int)"
        ).alias("rho"),
    )
    regs = base.groupBy("key", "reg").agg(F.max("rho").alias("r"))
    merged = (
        regs.groupBy("reg")
        .agg(F.max("r").alias("r"))
        .select(F.lit("__merged__").alias("key"), "reg", "r")
    )
    agg = (
        regs.unionByName(merged)
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_present"),
            F.sum(F.expr("shiftleft(cast(1 as bigint), 51 - r)")).alias(
                "present_sum"
            ),
        )
    )
    m = F.lit(HLL_DET_M).cast("long")
    zeros = (m - F.col("n_present")).alias("zeros")
    denom = (
        F.col("present_sum") + (m - F.col("n_present")) * F.lit(1 << 51)
    ).alias("denom")
    return agg.select(
        "key",
        "n_present",
        zeros,
        denom,
        (F.lit(HLL_DET_ALPHA_NUM) / denom.cast("double")).alias("est_raw"),
        F.when(
            (m - F.col("n_present")) > 0,
            F.round(
                F.log(
                    F.lit(float(HLL_DET_M))
                    / (m - F.col("n_present")).cast("double")
                )
                * F.lit(1e9)
            ).cast("long")
            * m,
        ).alias("lc_nano"),
    )


A_HLL_DETERMINISTIC_ORACLE = f"""
WITH h AS (
  SELECT event_type AS key,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events),
b AS (
  SELECT key, CAST(h % 1024 AS INT) AS reg, h // 1024 AS w FROM h),
rr AS (
  SELECT key, reg,
         CAST(CASE WHEN w > 0 THEN 51 - length(bin(w)) ELSE 51 END AS INT)
           AS rho
  FROM b),
regs AS (SELECT key, reg, max(rho) AS r FROM rr GROUP BY 1, 2),
mrg AS (SELECT '__merged__' AS key, reg, max(r) AS r FROM regs GROUP BY 2),
per AS (SELECT * FROM regs UNION ALL SELECT * FROM mrg),
agg AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n_present,
         CAST(sum(1::BIGINT << (51 - r)) AS BIGINT) AS present_sum
  FROM per GROUP BY 1)
SELECT key, n_present,
       CAST(1024 - n_present AS BIGINT) AS zeros,
       CAST(present_sum + (1024 - n_present) * (1::BIGINT << 51) AS BIGINT)
         AS denom,
       {HLL_DET_ALPHA_NUM!r}
         / CAST(present_sum + (1024 - n_present) * (1::BIGINT << 51)
                AS DOUBLE) AS est_raw,
       CASE WHEN 1024 - n_present > 0 THEN
         CAST(round(ln(1024.0 / CAST(1024 - n_present AS DOUBLE)) * 1e9)
              AS BIGINT) * 1024
       END AS lc_nano
FROM agg
"""


BK_K = 256  # bottom-k sample size (rank error ~ sqrt(q(1-q)/k) ≈ 3%)


def a_bottomk_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic bottom-k hash-sample QUANTILE sketch with a FULL
    cross-engine oracle (r16 late) — the quantile member of the
    exact-parity sketch family (r15's deterministic HLL and Count-Min
    are the cardinality and frequency members; the native
    ``a_approx_quantiles`` stays rows-only by nature). Every piece is
    cross-engine exact:

    * sample = per ``event_type`` the ``BK_K`` rows with the smallest
      ``(md5-60bit(event_id), event_id)`` — a deterministic uniform
      sample because the hash is effectively random in the value
      domain, and the classic bottom-k MERGE property holds exactly:
      bottom-k of a union equals bottom-k of the per-part bottom-ks
      (pytest proves the ``__merged__`` row equals the direct global
      computation bit-for-bit);
    * the ``__merged__`` sample is built FROM the per-key sample table
      via sort + limit (TakeOrdered — no single-partition window; the
      input is the bounded keys × k sketch table);
    * quantile estimates select the sample element at position
      ``greatest(1, ceil(q * n))`` from the ``(value, event_id)``-
      sorted sample — pure element selection, no interpolation
      arithmetic, so the emitted doubles are bit-identical in both
      engines; ``q * n`` is one exact-rounded double multiply.

    Scale shape: one projection + one per-key window (the only
    data-sized shuffle) collapses the corpus to keys × k rows; every
    later step runs on that bounded sketch table (the 100 TB quantile
    plan: map-side sample, tiny merge). Rank error is the textbook
    bottom-k bound ~ sqrt(q(1-q)/k) (~3% at k=256) — pytest asserts
    the estimates' true CDF positions land within 0.1 of their targets
    on the sf0.001 corpus.
    """
    from cassandra_fs_pp_spark.functions.text import hash60

    ev = _t(spark, sf_dir, "events")
    # value IS NOT NULL pins the cross-engine contract (ADVICE r16):
    # Spark's sort_array puts a NULL struct field FIRST, DuckDB's
    # list(... ORDER BY value) puts NULLs LAST — a null value would
    # make the engines select different quantile elements. The sketch
    # is defined over non-null measurements in both engines.
    base = ev.where(F.col("value").isNotNull()).select(
        F.col("event_type").alias("key"),
        "event_id",
        "value",
        hash60(F.col("event_id").cast("string")).alias("h"),
    )
    wk = Window.partitionBy("key").orderBy("h", "event_id")
    per = (
        base.withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") <= BK_K)
        .drop("rn")
    )
    mrg = (
        per.orderBy("h", "event_id")
        .limit(BK_K)
        .select(F.lit("__merged__").alias("key"), "event_id", "value")
    )
    allr = per.select("key", "event_id", "value").unionByName(mrg)
    agg = allr.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n_sample"),
        F.expr("sort_array(collect_list(struct(value, event_id)))").alias(
            "__vs"
        ),
    )

    def _q(q: float) -> Column:
        return F.expr(
            f"element_at(__vs, greatest(1, cast(ceil({q} * n_sample)"
            " as int))).value"
        )

    return agg.select(
        "key",
        "n_sample",
        _q(0.25).alias("q25"),
        _q(0.5).alias("q50"),
        _q(0.9).alias("q90"),
    )


A_BOTTOMK_QUANTILES_ORACLE = f"""
WITH h AS (
  SELECT event_type AS key, event_id, value,
         ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
           AS h
  FROM events WHERE value IS NOT NULL),
per AS (
  SELECT key, event_id, value, h FROM (
    SELECT key, event_id, value, h,
           row_number() OVER (PARTITION BY key ORDER BY h, event_id)
             AS rn
    FROM h)
  WHERE rn <= {BK_K}),
mrg AS (
  SELECT '__merged__' AS key, event_id, value
  FROM per ORDER BY h, event_id LIMIT {BK_K}),
allr AS (
  SELECT key, event_id, value FROM per
  UNION ALL SELECT key, event_id, value FROM mrg),
agg AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n_sample,
         list(value ORDER BY value, event_id) AS vs
  FROM allr GROUP BY 1)
SELECT key, n_sample,
       vs[greatest(1, CAST(ceil(0.25 * n_sample) AS INT))] AS q25,
       vs[greatest(1, CAST(ceil(0.5 * n_sample) AS INT))] AS q50,
       vs[greatest(1, CAST(ceil(0.9 * n_sample) AS INT))] AS q90
FROM agg
"""


# 128 words x 31 bits = 3968-bit filter, 3 salted hashes; offsets stay
# in 0..30 so every mask is a positive BIGINT (no sign-bit or <<63
# overflow divergence between engines)
BF_WORDS, BF_BITS, BF_D, BF_PROBE_MOD = 128, 31, 3, 13
BF_ABSENT_SHIFT = 1_000_003


def a_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic BLOOM FILTER with a FULL cross-engine oracle (r16
    late) — the set-membership member of the exact-parity sketch
    family (deterministic HLL = cardinality, Count-Min = frequency,
    bottom-k = quantiles). Every piece is integer-exact:

    * per ``event_type``, each distinct ``user_id`` sets ``BF_D``
      salted-md5 bits ``h60(j || ':' || uid) % 3968`` in a 128-word ×
      31-bit bitmap (offsets 0..30 keep every mask a positive BIGINT —
      no sign-bit/overflow divergence); the filter table is
      ``bit_or``-aggregated, bounded by keys × 128 rows;
    * MERGE is word-wise ``bit_or`` (the property that makes Bloom the
      100 TB membership sketch) — the ``__merged__`` filter is built
      FROM the per-key filter table and a pytest proves it equals the
      direct global build bit-for-bit;
    * the probe set is ``user_id % {BF_PROBE_MOD} == 0`` members PLUS
      their ``+{BF_ABSENT_SHIFT}`` twins (absent unless colliding), so
      the output exercises both the no-false-negative guarantee
      (pytest-asserted: truly ⇒ claimed, per key) and real false
      positives; ``claimed`` is ``bool_and`` over the ``BF_D`` bit
      lookups, a missing word reading as 0.

    Output: one row per (filter key incl. ``__merged__``, probe id) —
    ``(key, probe_id, claimed, truly, false_pos)``, all exact
    booleans/integers, hash-identical cross-engine.
    """
    from cassandra_fs_pp_spark.functions.text import hash60

    ev = _t(spark, sf_dir, "events")
    uids = ev.select(
        F.col("event_type").alias("key"), F.col("user_id").alias("uid")
    ).distinct()

    def bit_of(j: int, col: str) -> Column:
        return F.pmod(
            hash60(F.concat(F.lit(f"{j}:"), F.col(col).cast("string"))),
            F.lit(BF_WORDS * BF_BITS),
        )

    bits = uids.select(
        "key",
        F.explode(
            F.array(*[bit_of(j, "uid") for j in range(BF_D)])
        ).alias("bit"),
    )
    per = (
        bits.select(
            "key",
            (F.col("bit") / BF_BITS).cast("long").alias("word"),
            F.expr(
                f"shiftleft(cast(1 as bigint),"
                f" cast(bit % {BF_BITS} as int))"
            ).alias("mask"),
        )
        .groupBy("key", "word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )
    mrg = per.groupBy("word").agg(F.expr("bit_or(bits)").alias("bits")).select(
        F.lit("__merged__").alias("key"), "word", "bits"
    )
    filt = per.unionByName(mrg)

    base_probe = (
        ev.select(F.col("user_id").alias("uid"))
        .where(F.col("uid") % BF_PROBE_MOD == 0)
        .distinct()
    )
    probes = base_probe.unionByName(
        base_probe.select((F.col("uid") + BF_ABSENT_SHIFT).alias("uid"))
    )
    pb = probes.select(
        "uid",
        F.explode(
            F.array(*[bit_of(j, "uid") for j in range(BF_D)])
        ).alias("bit"),
    ).select(
        "uid",
        (F.col("bit") / BF_BITS).cast("long").alias("word"),
        (F.col("bit") % BF_BITS).cast("int").alias("off"),
    )
    keys = filt.select("key").distinct()
    look = (
        keys.crossJoin(pb)
        .join(F.broadcast(filt), ["key", "word"], "left")
        .groupBy("key", "uid")
        .agg(
            F.expr(
                "bool_and(coalesce(shiftright(bits, off) & 1, 0) = 1)"
            ).alias("claimed")
        )
    )
    truly = uids.withColumn("t", F.lit(True)).unionByName(
        uids.select("uid").distinct().select(
            F.lit("__merged__").alias("key"), "uid", F.lit(True).alias("t")
        )
    )
    return (
        look.join(truly, ["key", "uid"], "left")
        .select(
            "key",
            F.col("uid").alias("probe_id"),
            "claimed",
            F.coalesce(F.col("t"), F.lit(False)).alias("truly"),
            (
                F.col("claimed") & ~F.coalesce(F.col("t"), F.lit(False))
            ).alias("false_pos"),
        )
    )


A_BLOOM_MEMBERSHIP_ORACLE = f"""
WITH uids AS (
  SELECT DISTINCT event_type AS key, user_id AS uid FROM events),
bits AS (
  SELECT key,
         ('0x' || substr(md5(CAST(j AS VARCHAR) || ':'
                             || CAST(uid AS VARCHAR)), 1, 15))::BIGINT
           % {BF_WORDS * BF_BITS} AS bit
  FROM uids, UNNEST([0, 1, 2]) AS t(j)),
per AS (
  SELECT key, bit // {BF_BITS} AS word,
         bit_or(1::BIGINT << CAST(bit % {BF_BITS} AS INT)) AS bits
  FROM bits GROUP BY 1, 2),
mrg AS (
  SELECT '__merged__' AS key, word, bit_or(bits) AS bits
  FROM per GROUP BY 2),
filt AS (SELECT * FROM per UNION ALL SELECT * FROM mrg),
base_probe AS (
  SELECT DISTINCT user_id AS uid FROM events
  WHERE user_id % {BF_PROBE_MOD} = 0),
probes AS (
  SELECT uid FROM base_probe
  UNION ALL SELECT uid + {BF_ABSENT_SHIFT} FROM base_probe),
pb AS (
  SELECT uid,
         ('0x' || substr(md5(CAST(j AS VARCHAR) || ':'
                             || CAST(uid AS VARCHAR)), 1, 15))::BIGINT
           % {BF_WORDS * BF_BITS} AS bit
  FROM probes, UNNEST([0, 1, 2]) AS t(j)),
keys AS (SELECT DISTINCT key FROM filt),
look AS (
  SELECT k.key, pb.uid,
         bool_and(COALESCE((f.bits >> CAST(pb.bit % {BF_BITS} AS INT))
                           & 1, 0) = 1) AS claimed
  FROM keys k CROSS JOIN pb
  LEFT JOIN filt f ON f.key = k.key AND f.word = pb.bit // {BF_BITS}
  GROUP BY 1, 2),
truly AS (
  SELECT key, uid FROM uids
  UNION ALL
  SELECT '__merged__', uid FROM (SELECT DISTINCT uid FROM uids))
SELECT l.key, l.uid AS probe_id, l.claimed,
       (t.uid IS NOT NULL) AS truly,
       l.claimed AND t.uid IS NULL AS false_pos
FROM look l LEFT JOIN truly t ON l.key = t.key AND l.uid = t.uid
"""


CM_D, CM_W, CM_PROBE_MOD = 4, 256, 13


def a_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch Count-Min frequency sketch with a FULL cross-engine
    oracle (r15) — the frequency-sketch sibling of
    :func:`a_hll_deterministic` (and the exact-parity counterpart to
    the summary-merging ``a_heavy_hitters_mg``): every cell is an exact
    integer COUNT, so unlike probabilistic-register sketches the whole
    structure is SQL-replayable and MERGEABLE BY ADDITION (per-key
    sketches sum cell-wise to the global sketch — asserted in pytest).

    * ``d`` = {CM_D} salted md5 hash rows, ``w`` = {CM_W} buckets:
      ``cell(j, b) = count of events whose user hashes to b under salt
      j`` — one projection + a (d*w)-bounded hash aggregate, map-side
      combinable (the textbook 100 TB frequency plan);
    * estimates for the deterministic probe set (users with
      ``user_id % {CM_PROBE_MOD} == 0``): ``est = min_j cell(j,
      h_j(u))`` via a broadcast join against the 1024-row cell table —
      CM guarantees ``est >= true`` (overestimate-only, also asserted);
    * output: one exact-integer row per probe user
      ``(user_id, true_cnt, est_cnt, over)``.
    """
    ev = _t(spark, sf_dir, "events")
    rows = ev.select(F.col("user_id"))
    hashed = rows.select(
        "user_id",
        *[
            F.expr(
                "cast(pmod(cast(conv(substring(md5(concat('cm', "
                f"'{j}', ':', cast(user_id as string))), 1, 15), 16, 10)"
                f" as bigint), {CM_W}L) as int)"
            ).alias(f"b{j}")
            for j in range(CM_D)
        ],
    )
    cells = (
        hashed.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"), F.col(f"b{j}").alias("b")
                        )
                        for j in range(CM_D)
                    ]
                )
            ).alias("c")
        )
        .groupBy("c.j", "c.b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    probe = (
        hashed.filter(F.col("user_id") % CM_PROBE_MOD == 0)
        .groupBy("user_id", *[f"b{j}" for j in range(CM_D)])
        .agg(F.count(F.lit(1)).alias("true_cnt"))
    )
    est = probe
    for j in range(CM_D):
        cj = cells.filter(F.col("j") == j).select(
            F.col("b").alias(f"b{j}"), F.col("cnt").alias(f"c{j}")
        )
        est = est.join(F.broadcast(cj), f"b{j}")
    est_col = F.least(*[F.col(f"c{j}") for j in range(CM_D)])
    return est.select(
        "user_id",
        "true_cnt",
        est_col.alias("est_cnt"),
        (est_col - F.col("true_cnt")).alias("over"),
    )


A_COUNTMIN_ORACLE = f"""
WITH hashed AS (
  SELECT user_id,
         {", ".join(
             "CAST(('0x' || substr(md5('cm' || '" + str(j) + "' || ':' || "
             "CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % " + str(CM_W)
             + " AS INT) AS b" + str(j)
             for j in range(CM_D)
         )}
  FROM events),
cells AS (
  SELECT j, b, CAST(count(*) AS BIGINT) AS cnt FROM (
    {" UNION ALL ".join(
        "SELECT " + str(j) + " AS j, b" + str(j) + " AS b FROM hashed"
        for j in range(CM_D)
    )})
  GROUP BY 1, 2),
probe AS (
  SELECT user_id, {", ".join("b" + str(j) for j in range(CM_D))},
         CAST(count(*) AS BIGINT) AS true_cnt
  FROM hashed WHERE user_id % {CM_PROBE_MOD} = 0
  GROUP BY {", ".join(str(i + 1) for i in range(CM_D + 1))})
SELECT p.user_id, p.true_cnt,
       least({", ".join("c" + str(j) + ".cnt" for j in range(CM_D))})
         AS est_cnt,
       least({", ".join("c" + str(j) + ".cnt" for j in range(CM_D))})
         - p.true_cnt AS over
FROM probe p
{" ".join(
    "JOIN cells c" + str(j) + " ON c" + str(j) + ".j = " + str(j)
    + " AND c" + str(j) + ".b = p.b" + str(j)
    for j in range(CM_D)
)}
"""


def a_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct — algorithm-specific, so no SQL oracle
    (rows-only check); exactness bound asserted in tests/test_operators.py.
    See ``a_hll_deterministic`` for the from-scratch exact-parity HLL."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users")
    )


def a_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (percentile_approx / Greenwald-Khanna,
    accuracy 1/1e-4): the bounded-memory path for percentiles at 100 TB,
    where a_quantiles' exact interpolation needs a per-group sort.  Like
    the HLL pair, algorithm-specific -> rows-only driver check; the
    pytest sandwiches every sketch value inside the exact
    rank-error window."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 10000).alias("p50_sketch"),
        F.percentile_approx("value", 0.99, 10000).alias("p99_sketch"),
        F.count(F.lit(1)).alias("n"),
    )


def a8_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour windows every 15 min (each event lands in 4 windows)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 3).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "sum_value")
    )


SLIDING_ORACLE = """
WITH e AS (
  SELECT to_timestamp(CAST(floor(epoch(ts) / 900) * 900 AS BIGINT))
           AT TIME ZONE 'UTC' AS t15,
         ts, value
  FROM events
), x AS (
  SELECT t15 - k.range * INTERVAL 15 MINUTE AS window_start, value
  FROM e CROSS JOIN range(4) k
)
SELECT window_start, count(*) AS n, round(sum(value), 3) AS sum_value
FROM x GROUP BY 1
"""


def a_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user — native ``session_window``;
    the oracle is the classic gaps-and-islands formulation."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 3).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n",
            "sum_value",
        )
    )


SESSION_ORACLE = """
WITH o AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
), g AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sess
  FROM o
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n, round(sum(value), 3) AS sum_value
FROM g GROUP BY user_id, sess
"""


def f_json_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON parsing (from_json -> struct) + aggregation on the
    extracted field — the semi-structured column path."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.from_json("props", "k int").alias("p"),
    )
    return parsed.groupBy("event_type").agg(
        F.count("p.k").alias("n_k"),
        F.sum("p.k").alias("sum_k"),
        F.min("p.k").alias("min_k"),
        F.max("p.k").alias("max_k"),
    )


F_JSON_ORACLE = """
SELECT event_type,
       count(CAST(props->>'k' AS INT)) AS n_k,
       CAST(sum(CAST(props->>'k' AS INT)) AS BIGINT) AS sum_k,
       min(CAST(props->>'k' AS INT)) AS min_k,
       max(CAST(props->>'k' AS INT)) AS max_k
FROM events GROUP BY 1
"""


def f_map_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType column family: construction, keyed extraction (incl. the
    missing-key -> NULL contract), cardinality, key/value enumeration.
    (SURVEY §1.2: the engine introduces MapType where idiomatic — the
    reference flattens everything to numbered columns.)"""
    ev = _t(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("type"), F.col("event_type"),
        F.lit("uid"), F.col("user_id").cast("string"),
    )
    return ev.select(
        "event_id",
        F.element_at(m, "type").alias("mtype"),
        F.element_at(m, "uid").cast("long").alias("uid_back"),
        F.element_at(m, "nope").alias("missing"),
        F.size(m).alias("n_entries"),
        F.concat_ws(",", F.map_keys(m)).alias("keys_csv"),
        F.concat_ws(",", F.map_values(m)).alias("vals_csv"),
    )


F_MAP_ORACLE = """
WITH withmap AS (
  SELECT event_id,
         MAP {'type': event_type, 'uid': CAST(user_id AS VARCHAR)} AS m
  FROM events)
SELECT event_id,
       m['type'][1] AS mtype,
       CAST(m['uid'][1] AS BIGINT) AS uid_back,
       m['nope'][1] AS missing,
       cardinality(m) AS n_entries,
       array_to_string(map_keys(m), ',') AS keys_csv,
       array_to_string(map_values(m), ',') AS vals_csv
FROM withmap
"""


def op_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style keyed upsert: a change-set (10% balance bump for wealthy
    customers + appended new keys) merged over the customer snapshot with
    full-row-replace semantics, verified by aggregate profile."""
    from cassandra_fs_pp_spark.operators.joins import upsert_snapshot

    cust = _t(spark, sf_dir, "customer")
    # balance bump in exact DECIMAL: double*1.1 then round(…,2) can land
    # on a half-cent tie where engines disagree; decimal×decimal is exact
    bumped = F.round(
        F.col("c_acctbal").cast("decimal(12,2)")
        * F.lit("1.1").cast("decimal(3,2)"),
        2,
    ).cast("double")
    updates = cust.filter(F.col("c_acctbal") > 9000).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        bumped.alias("c_acctbal"),
        F.lit("VIP").alias("c_mktsegment"),
    )
    inserts = cust.filter(F.col("c_custkey") % 97 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat(F.lit("new_"), F.col("c_name")).alias("c_name"),
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
        F.lit(None).cast("string").alias("c_mktsegment"),  # nulling wins
    )
    merged = upsert_snapshot(
        cust, updates.unionByName(inserts), "c_custkey"
    )
    return merged.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total_bal"),
        F.sum("c_custkey").alias("key_checksum"),
    )


def op_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MERGE apply (operators/joins.py ``merge_changes``): a change
    feed with op in {U, I, D} — balance-zero updates for one segment,
    appended keys, and deletes of every 89th customer — folded over the
    snapshot in ONE anti join + union (deletes ride the same touched-key
    pass as upserts).  Verified by per-segment aggregate profile."""
    from cassandra_fs_pp_spark.operators.joins import merge_changes

    cust = _t(spark, sf_dir, "customer")
    updates = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
        "c_mktsegment",
        F.lit("U").alias("op"),
    )
    inserts = cust.filter(F.col("c_custkey") % 101 == 0).select(
        (F.col("c_custkey") + 2000000).alias("c_custkey"),
        F.concat(F.lit("merged_"), F.col("c_name")).alias("c_name"),
        "c_nationkey",
        F.lit(1.0).alias("c_acctbal"),
        F.lit("MERGED").alias("c_mktsegment"),
        F.lit("I").alias("op"),
    )
    deletes = cust.filter(F.col("c_custkey") % 89 == 0).select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
        F.lit("D").alias("op"),
    )
    merged = merge_changes(
        cust.select(
            "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
        ),
        updates.unionByName(inserts).unionByName(deletes),
        "c_custkey",
    )
    return merged.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total_bal"),
        F.sum("c_custkey").alias("key_checksum"),
    )


OP_CDC_MERGE_ORACLE = """
WITH merged AS (
  -- untouched base rows: key neither updated (BUILDING) nor deleted
  -- (%89); the %101 INSERT keys are shifted by 2000000 and never
  -- collide with base keys.  A key that is BOTH updated and deleted
  -- keeps its U row (merge_changes drops only D change rows; the anti
  -- join removes the base row either way) — so the U branch below has
  -- NO %89 exclusion.
  SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
  WHERE c_mktsegment <> 'BUILDING' AND c_custkey % 89 <> 0
  UNION ALL
  SELECT c_custkey, 0.0 AS c_acctbal, c_mktsegment FROM customer
  WHERE c_mktsegment = 'BUILDING'
  UNION ALL
  SELECT c_custkey + 2000000, 1.0, 'MERGED' FROM customer
  WHERE c_custkey % 101 = 0
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS total_bal,
       CAST(sum(c_custkey) AS BIGINT) AS key_checksum
FROM merged GROUP BY c_mktsegment
"""


def op_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level table diff (dq_table_digest's companion: the digest says
    WHETHER replicas drifted, this says WHAT): full outer join of two
    snapshots on the key, rows classified added / removed / changed /
    unchanged by key presence + portable row hash (md5 of a
    '|'-delimited canonical string with explicit NULL markers).  The
    second snapshot is the op_cdc_merge change feed applied, so the diff
    counts are known: changed = BUILDING-minus-deleted, removed =
    deleted-minus-BUILDING, added = inserts."""
    from cassandra_fs_pp_spark.operators.joins import merge_changes

    cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    cust = _t(spark, sf_dir, "customer").select(*cols)
    updates = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey", "c_name", "c_nationkey",
        F.lit(0.0).alias("c_acctbal"), "c_mktsegment",
        F.lit("U").alias("op"),
    )
    deletes = cust.filter(F.col("c_custkey") % 89 == 0).select(
        *cols, F.lit("D").alias("op")
    )
    new = merge_changes(cust, updates.unionByName(deletes), "c_custkey")

    def row_sig(prefix: str):
        return F.md5(
            F.concat_ws(
                "|",
                *[
                    F.coalesce(F.col(f"{prefix}.{c}").cast("string"),
                               F.lit("\\N"))
                    for c in cols
                ],
            )
        )

    a = cust.alias("a")
    b = new.alias("b")
    j = a.join(b, F.col("a.c_custkey") == F.col("b.c_custkey"), "full_outer")
    diff_type = (
        F.when(F.col("a.c_custkey").isNull(), "added")
        .when(F.col("b.c_custkey").isNull(), "removed")
        .when(row_sig("a") != row_sig("b"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(
            diff_type.alias("diff_type"),
            F.coalesce(F.col("a.c_custkey"), F.col("b.c_custkey")).alias("k"),
        )
        .groupBy("diff_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("key_checksum"),
        )
    )


OP_SNAPSHOT_DIFF_ORACLE = """
WITH base AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM customer),
new AS (
  -- the same U-beats-D merge as op_cdc_merge, without inserts
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM base WHERE c_mktsegment <> 'BUILDING' AND c_custkey % 89 <> 0
  UNION ALL
  SELECT c_custkey, c_name, c_nationkey, 0.0, c_mktsegment
  FROM base WHERE c_mktsegment = 'BUILDING'),
j AS (
  SELECT a.c_custkey AS ak, b.c_custkey AS bk,
         md5(concat_ws('|', coalesce(CAST(a.c_custkey AS VARCHAR), '\\N'),
                            coalesce(a.c_name, '\\N'),
                            coalesce(CAST(a.c_nationkey AS VARCHAR), '\\N'),
                            coalesce(CAST(a.c_acctbal AS VARCHAR), '\\N'),
                            coalesce(a.c_mktsegment, '\\N'))) AS ha,
         md5(concat_ws('|', coalesce(CAST(b.c_custkey AS VARCHAR), '\\N'),
                            coalesce(b.c_name, '\\N'),
                            coalesce(CAST(b.c_nationkey AS VARCHAR), '\\N'),
                            coalesce(CAST(b.c_acctbal AS VARCHAR), '\\N'),
                            coalesce(b.c_mktsegment, '\\N'))) AS hb
  FROM base a FULL OUTER JOIN new b ON a.c_custkey = b.c_custkey)
SELECT CASE WHEN ak IS NULL THEN 'added'
            WHEN bk IS NULL THEN 'removed'
            WHEN ha <> hb THEN 'changed'
            ELSE 'unchanged' END AS diff_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(coalesce(ak, bk)) AS BIGINT) AS key_checksum
FROM j GROUP BY 1
"""


OP_UPSERT_ORACLE = """
WITH changes AS (
  SELECT c_custkey, c_name, c_nationkey,
         CAST(round(CAST(c_acctbal AS DECIMAL(12,2))
              * CAST('1.1' AS DECIMAL(3,2)), 2) AS DOUBLE) AS c_acctbal,
         'VIP' AS c_mktsegment
  FROM customer WHERE c_acctbal > 9000
  UNION ALL
  SELECT c_custkey + 1000000, 'new_' || c_name, c_nationkey,
         0.0, NULL
  FROM customer WHERE c_custkey % 97 = 0),
merged AS (
  SELECT ch.c_custkey, ch.c_name, ch.c_nationkey, ch.c_acctbal,
         ch.c_mktsegment
  FROM changes ch
  UNION ALL
  SELECT b.c_custkey, b.c_name, b.c_nationkey, b.c_acctbal, b.c_mktsegment
  FROM customer b
  WHERE NOT EXISTS (SELECT 1 FROM changes c WHERE c.c_custkey = b.c_custkey))
SELECT c_mktsegment, count(*) AS n,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS total_bal,
       CAST(sum(c_custkey) AS BIGINT) AS key_checksum
FROM merged GROUP BY c_mktsegment
"""


def a_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day, counted per
    day-offset since then — two aggregation levels over one scan plus a
    broadcast-back of the tiny per-user cohort table."""
    ev = _t(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    return (
        ev.join(F.broadcast(first_day), "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.to_date("ts"), F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


A_COHORT_ORACLE = """
WITH first_day AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
  FROM events GROUP BY user_id)
SELECT cohort_day,
       datediff('day', cohort_day, CAST(ts AS DATE)) AS day_offset,
       count(DISTINCT e.user_id) AS active_users
FROM events e JOIN first_day USING (user_id)
GROUP BY cohort_day, day_offset
"""


def text_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram conditional entropy H(w2|w1) — the
    compressibility / repetitiveness quality signal (low entropy =
    template-like text). Every per-bigram term
    -c(w1,w2)/N * ln(c(w1,w2)/c(w1)) is computed from exact integer
    counts (IEEE-identical in both engines), then ROUNDED to integer
    nano-nats BEFORE summing — the sum is an order-insensitive integer,
    sidestepping the float-accumulation-order hazard a plain
    sum-of-doubles has across engines."""
    from cassandra_fs_pp_spark.functions.text import whitespace_tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(whitespace_tokens(F.col("text"))).alias("pos", "tok"),
    )
    nxt = toks.select(
        F.col("doc_id").alias("d2"),
        (F.col("pos") - 1).alias("p2"),
        F.col("tok").alias("tok_b"),
    )
    bi = (
        toks.join(
            nxt, (toks["doc_id"] == F.col("d2")) & (toks["pos"] == F.col("p2"))
        )
        .groupBy("doc_id", "tok", "tok_b")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    c1 = bi.groupBy("doc_id", "tok").agg(F.sum("c12").alias("c1"))
    n_bi = bi.groupBy("doc_id").agg(F.sum("c12").alias("n_bi"))
    term = (
        -(F.col("c12").cast("double") / F.col("n_bi").cast("double"))
        * F.log(F.col("c12").cast("double") / F.col("c1").cast("double"))
    )
    return (
        bi.join(c1, ["doc_id", "tok"])
        .join(n_bi, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n_bi").alias("n_bigrams"),
            F.sum(F.round(term * 1e9).cast("long")).alias("h_nano"),
        )
        .select(
            "doc_id",
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            "h_nano",
            F.round(F.col("h_nano") / F.lit(1e9), 6).alias("h_cond_nats"),
        )
    )


TEXT_BIGRAM_ENTROPY_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents),
bi AS (
  SELECT doc_id, t[i] AS tok, t[i + 1] AS tok_b,
         CAST(count(*) AS BIGINT) AS c12
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2
  GROUP BY 1, 2, 3),
c1 AS (
  SELECT doc_id, tok, CAST(sum(c12) AS BIGINT) AS c1
  FROM bi GROUP BY 1, 2),
nb AS (
  SELECT doc_id, CAST(sum(c12) AS BIGINT) AS n_bi FROM bi GROUP BY 1)
SELECT bi.doc_id,
       CAST(max(nb.n_bi) AS BIGINT) AS n_bigrams,
       CAST(sum(CAST(round(
         -(CAST(bi.c12 AS DOUBLE) / CAST(nb.n_bi AS DOUBLE))
         * ln(CAST(bi.c12 AS DOUBLE) / CAST(c1.c1 AS DOUBLE)) * 1e9)
           AS BIGINT)) AS BIGINT) AS h_nano,
       round(CAST(sum(CAST(round(
         -(CAST(bi.c12 AS DOUBLE) / CAST(nb.n_bi AS DOUBLE))
         * ln(CAST(bi.c12 AS DOUBLE) / CAST(c1.c1 AS DOUBLE)) * 1e9)
           AS BIGINT)) AS BIGINT) / 1e9, 6) AS h_cond_nats
FROM bi
JOIN c1 ON c1.doc_id = bi.doc_id AND c1.tok = bi.tok
JOIN nb ON nb.doc_id = bi.doc_id
GROUP BY 1
"""


def text_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information of adjacent token
    pairs (top-15 by pair count). Unigram/bigram counts are map-side
    combinable; the log-ratio arithmetic is identical IEEE in any engine
    because every input is an exact integer count."""
    from cassandra_fs_pp_spark.functions.text import whitespace_tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(whitespace_tokens(F.col("text"))).alias("pos", "tok")
    )
    nxt = toks.select(
        F.col("doc_id").alias("d2"),
        (F.col("pos") - 1).alias("p2"),
        F.col("tok").alias("tok_b"),
    )
    bigrams = toks.join(
        nxt, (toks["doc_id"] == F.col("d2")) & (toks["pos"] == F.col("p2"))
    ).select("tok", "tok_b")
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n_uni"))
    total_uni = toks.count()
    total_bi = bigrams.count()
    bi = bigrams.groupBy("tok", "tok_b").agg(F.count(F.lit(1)).alias("n_pair"))
    ua = uni.select(F.col("tok").alias("ua_tok"), F.col("n_uni").alias("n_a"))
    ub = uni.select(F.col("tok").alias("ub_tok"), F.col("n_uni").alias("n_b"))
    pmi = (
        bi.join(F.broadcast(ua), bi["tok"] == F.col("ua_tok"))
        .join(F.broadcast(ub), bi["tok_b"] == F.col("ub_tok"))
        .select(
            "tok",
            "tok_b",
            "n_pair",
            # ln() differs by 1 ulp between JVM and libc for some inputs;
            # round(9) absorbs math-library divergence on the transcendental
            F.round(
                F.log(
                    (F.col("n_pair").cast("double") / F.lit(float(total_bi)))
                    / (
                        (F.col("n_a").cast("double") / F.lit(float(total_uni)))
                        * (F.col("n_b").cast("double") / F.lit(float(total_uni)))
                    )
                ),
                9,
            ).alias("pmi"),
        )
    )
    return pmi.orderBy(F.desc("n_pair"), F.asc("tok"), F.asc("tok_b")).limit(15)


TEXT_PMI_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, i - 1 AS pos, t[i] AS tok
  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        FROM documents),
       UNNEST(generate_series(1, len(t))) AS u(i)),
bigrams AS (
  SELECT a.tok, b.tok AS tok_b
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
uni AS (SELECT tok, count(*) AS n_uni FROM toks GROUP BY tok),
tot AS (SELECT (SELECT count(*) FROM toks) AS n_toks,
               (SELECT count(*) FROM bigrams) AS n_bi),
bi AS (SELECT tok, tok_b, count(*) AS n_pair FROM bigrams GROUP BY tok, tok_b)
SELECT bi.tok, bi.tok_b, bi.n_pair,
       round(ln((CAST(bi.n_pair AS DOUBLE) / CAST(tot.n_bi AS DOUBLE))
          / ((CAST(ua.n_uni AS DOUBLE) / CAST(tot.n_toks AS DOUBLE))
             * (CAST(ub.n_uni AS DOUBLE) / CAST(tot.n_toks AS DOUBLE)))), 9)
         AS pmi
FROM bi CROSS JOIN tot
JOIN uni ua ON bi.tok = ua.tok
JOIN uni ub ON bi.tok_b = ub.tok
ORDER BY bi.n_pair DESC, bi.tok ASC, bi.tok_b ASC
LIMIT 15
"""


def a_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Datasketches HLL: per-day user sketches unioned into a
    grand distinct estimate — THE 100 TB pattern for distinct counts
    (daily sketches persist as bytes; re-aggregation unions sketches
    instead of rescanning raw data). Rows-only check: sketch estimates
    are engine-specific; the pytest asserts the estimate against the
    exact count within HLL error bounds."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("exact_daily"),
    )
    return daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_total"),
        F.sum("exact_daily").alias("sum_daily_exact"),
        F.count(F.lit(1)).alias("n_days"),
    )


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((event_type), (month)) — the generalized
    multi-dimensional aggregation beyond rollup/cube."""
    ev = _t(spark, sf_dir, "events")
    ev.withColumn("month", F.month("ts")).createOrReplaceTempView("__ev_gs")
    return spark.sql(
        """
        SELECT event_type, month, count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
        FROM __ev_gs
        GROUP BY GROUPING SETS ((event_type), (month))
        """
    )


GROUPING_SETS_ORACLE = """
SELECT event_type, CAST(month(ts) AS INT) AS month, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY GROUPING SETS ((event_type), (month(ts)))
"""


def a9_head_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — baseline constant from the first N rows of a sorted series
    (the reference's ``udg.iloc[0:20].mean()``)."""
    ev = _t(spark, sf_dir, "events")
    head = ev.orderBy("ts", "event_id").limit(20)
    return head.agg(
        F.round(F.avg("value"), 6).alias("head_mean"),
        F.count(F.lit(1)).alias("n"),
    )


A9_ORACLE = """
SELECT round(avg(value), 6) AS head_mean, count(*) AS n
FROM (SELECT value FROM events ORDER BY ts, event_id LIMIT 20)
"""


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn("month", F.month("ts"))
    return (
        ev.cube("event_type", "month")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(14,2)")).cast("double").alias(
                "sum_value"
            ),
            F.grouping("event_type").cast("int").alias("g_type"),
            F.grouping("month").cast("int").alias("g_month"),
        )
    )


CUBE_ORACLE = """
SELECT event_type, CAST(month(ts) AS INT) AS month, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value,
       CAST(grouping(event_type) AS INT) AS g_type,
       CAST(grouping(month(ts)) AS INT) AS g_month
FROM events GROUP BY CUBE (event_type, month(ts))
"""


def r1_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide -> long unpivot (the reference's DataArray stack, SURVEY §2.9 R1)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount"
    ).unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "metric",
        "val",
    )


R1_ORACLE = """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
FROM lineitem
"""


def r4_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4 — frame transpose (reference ``investigate_2022_fs_data.py:113``
    ``.T`` before heatmaps): rows become columns via unpivot+pivot — no
    driver collect of data (only the distinct key list that names the new
    columns).  Demonstrated on the bounded `region` dim, matching the
    boundedness contract pandas ``.T`` implies."""
    from cassandra_fs_pp_spark.operators.projection import transpose_frame

    return transpose_frame(_t(spark, sf_dir, "nation"), "n_nationkey")


def _r4_oracle() -> str:
    keys = range(25)  # nation is the fixed 25-row TPC-H dim
    rows = []
    for var in ("n_name", "n_regionkey"):
        cells = ",\n       ".join(
            f"MAX(CASE WHEN n_nationkey = {k} THEN CAST({var} AS VARCHAR) END)"
            f""" AS "{k}\"""" for k in keys
        )
        rows.append(f"SELECT '{var}' AS \"column\",\n       {cells}\nFROM nation")
    return "\nUNION ALL\n".join(rows)


R4_ORACLE = _r4_oracle()


def p5_regex_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex column-family selection (`colRegex`) — the reference's
    ``df.filter(regex=..., axis=1)`` (SURVEY §2.3 P5)."""
    li = _t(spark, sf_dir, "lineitem")
    fam = li.select(li.colRegex("`^l_.*price$`"))
    cols = ["l_orderkey", "l_linenumber"] + fam.columns
    return li.select(*cols)


P5_ORACLE = "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem"


# --------------------------------------------------------------------------
# Statistical aggregates: per-key linear regression (trend extraction),
# exact quantiles, collection aggregation.
# --------------------------------------------------------------------------


PERIODOGRAM_PERIODS = (6, 12, 24, 168)
PERIODOGRAM_SCALE = 1 << 20


def _periodogram_rows(
    periods: tuple[int, ...] = PERIODOGRAM_PERIODS,
) -> list[tuple[int, int, int, int]]:
    """(period, phase, cos_int, sin_int): integer-rounded basis values —
    cos(2*pi*t/p) depends only on t mod p, so each period needs just p
    table entries, and the DFT power becomes pure integer arithmetic."""
    import math

    rows = []
    for p in periods:
        for ph in range(p):
            ang = 2.0 * math.pi * ph / p
            rows.append(
                (
                    p,
                    ph,
                    round(math.cos(ang) * PERIODOGRAM_SCALE),
                    round(math.sin(ang) * PERIODOGRAM_SCALE),
                )
            )
    return rows


def ts_periodogram_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer periodogram at fixed candidate periods (6/12/24/168 h),
    fully oracled. cos/sin are PRECOMPUTED integer tables keyed on
    ``hour mod period`` (p entries per period, broadcast), so the DFT
    components C = sum(x * cos_int) and S = sum(x * sin_int) are exact
    order-insensitive integer sums over integer cents; the reported
    power truncates |C|, |S| by 2^20 first (nonnegative, so truncation
    is engine-identical) to stay in BIGINT. Rank per user by (power
    desc, period asc)."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("user_id") < 20)
    )
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hts")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("xc"))
    tbl = _local_table(
        spark, _periodogram_rows(), "p int, ph int, c long, s long"
    )
    t = (F.unix_timestamp("hts") / 3600).cast("long")
    # explode each row into its 4 (period, phase) keys so the basis
    # attach is an EQUI broadcast-hash join (a raw `t % p = ph` condition
    # references both sides and would plan as a nested loop)
    keys = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(p).alias("p"),
                    (t % F.lit(p)).cast("int").alias("ph"),
                )
                for p in PERIODOGRAM_PERIODS
            ]
        )
    ).alias("k")
    j = (
        hourly.select("user_id", "xc", keys)
        .select(
            "user_id", "xc", F.col("k.p").alias("p"), F.col("k.ph").alias("ph")
        )
        .join(F.broadcast(tbl), ["p", "ph"])
        .groupBy("user_id", "p")
        .agg(
            F.sum(F.col("xc") * F.col("c")).alias("cc"),
            F.sum(F.col("xc") * F.col("s")).alias("ss"),
        )
    )
    pw = j.withColumn(
        "power_t",
        (
            F.expr(f"(abs(cc) div {PERIODOGRAM_SCALE})")
            * F.expr(f"(abs(cc) div {PERIODOGRAM_SCALE})")
            + F.expr(f"(abs(ss) div {PERIODOGRAM_SCALE})")
            * F.expr(f"(abs(ss) div {PERIODOGRAM_SCALE})")
        ).cast("long"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("power_t"), F.asc("p")
    )
    return pw.select(
        "user_id",
        F.col("p").alias("period_h"),
        "cc",
        "ss",
        "power_t",
        F.row_number().over(w).alias("rank"),
    )


def _periodogram_sql() -> str:
    vals = ",\n  ".join(
        f"({p}, {ph}, {c}, {s})" for p, ph, c, s in _periodogram_rows()
    )
    return f"""
WITH tbl(p, ph, c, s) AS (VALUES
  {vals}),
hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hts,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS xc
  FROM events WHERE value IS NOT NULL AND user_id < 20 GROUP BY 1, 2),
j AS (
  SELECT user_id, p,
         CAST(sum(xc * c) AS BIGINT) AS cc,
         CAST(sum(xc * s) AS BIGINT) AS ss
  FROM hourly JOIN tbl
    ON CAST(floor(epoch(hts) / 3600) AS BIGINT) % p = ph
  GROUP BY 1, 2),
pw AS (
  SELECT user_id, p, cc, ss,
         CAST((abs(cc) // {PERIODOGRAM_SCALE}) * (abs(cc) // {PERIODOGRAM_SCALE})
              + (abs(ss) // {PERIODOGRAM_SCALE}) * (abs(ss) // {PERIODOGRAM_SCALE})
           AS BIGINT) AS power_t
  FROM j)
SELECT user_id, p AS period_h, cc, ss, power_t,
       CAST(row_number() OVER (PARTITION BY user_id
            ORDER BY power_t DESC, p) AS INT) AS rank
FROM pw
"""


DOMINANT_PERIODS = (2, 3, 4, 6, 8, 12, 24, 48, 84, 168)


def ts_dominant_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user dominant cycle: exact integer-DFT argmax over the
    standard sub-weekly harmonic grid (2..168 h) — graduated in r9 from
    the rows-only grouped-map FFT to a full hash oracle using
    ``ts_periodogram_int``'s fixed-point machinery.  The hourly
    integer-cent series is centered by its exact per-user truncated-
    division mean (Spark ``div`` == DuckDB ``//``, both toward zero) so
    the DC component doesn't swamp short periods; C/S are
    order-insensitive integer sums against the broadcast cos/sin table;
    the argmax tie-breaks deterministically on (power desc, period
    asc)."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("user_id") < 10)
    )
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hts")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("xc"))
    wu = Window.partitionBy("user_id")
    cent = (
        hourly.withColumn("xc_tot", F.sum("xc").over(wu))
        .withColumn("n_hours", F.count(F.lit(1)).over(wu))
        .select(
            "user_id",
            "hts",
            (F.col("xc") - F.expr("xc_tot div n_hours")).alias("xz"),
            "n_hours",
        )
    )
    tbl = _local_table(
        spark, _periodogram_rows(DOMINANT_PERIODS), "p int, ph int, c long, s long"
    )
    t = (F.unix_timestamp("hts") / 3600).cast("long")
    keys = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(p).alias("p"),
                    (t % F.lit(p)).cast("int").alias("ph"),
                )
                for p in DOMINANT_PERIODS
            ]
        )
    ).alias("k")
    j = (
        cent.select("user_id", "xz", "n_hours", keys)
        .select(
            "user_id", "xz", "n_hours",
            F.col("k.p").alias("p"), F.col("k.ph").alias("ph"),
        )
        .join(F.broadcast(tbl), ["p", "ph"])
        .groupBy("user_id", "p")
        .agg(
            F.sum(F.col("xz") * F.col("c")).alias("cc"),
            F.sum(F.col("xz") * F.col("s")).alias("ss"),
            F.max("n_hours").alias("n_hours"),
        )
    )
    pw = j.withColumn(
        "power_t",
        (
            F.expr(f"(abs(cc) div {PERIODOGRAM_SCALE})")
            * F.expr(f"(abs(cc) div {PERIODOGRAM_SCALE})")
            + F.expr(f"(abs(ss) div {PERIODOGRAM_SCALE})")
            * F.expr(f"(abs(ss) div {PERIODOGRAM_SCALE})")
        ).cast("long"),
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("power_t"), F.asc("p"))
    return (
        pw.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("p").alias("dominant_period_h"),
            "power_t",
            "n_hours",
        )
    )


def _ts_dominant_sql() -> str:
    vals = ",\n  ".join(
        f"({p}, {ph}, {c}, {s})"
        for p, ph, c, s in _periodogram_rows(DOMINANT_PERIODS)
    )
    return f"""
WITH tbl(p, ph, c, s) AS (VALUES
  {vals}),
hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hts,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS xc
  FROM events WHERE value IS NOT NULL AND user_id < 10 GROUP BY 1, 2),
cent AS (
  SELECT user_id, hts,
         xc - (CAST(sum(xc) OVER (PARTITION BY user_id) AS BIGINT)
               // CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT))
           AS xz,
         CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_hours
  FROM hourly),
j AS (
  SELECT user_id, p,
         CAST(sum(xz * c) AS BIGINT) AS cc,
         CAST(sum(xz * s) AS BIGINT) AS ss,
         max(n_hours) AS n_hours
  FROM cent JOIN tbl
    ON CAST(floor(epoch(hts) / 3600) AS BIGINT) % p = ph
  GROUP BY 1, 2),
pw AS (
  SELECT user_id, p, n_hours,
         CAST((abs(cc) // {PERIODOGRAM_SCALE}) * (abs(cc) // {PERIODOGRAM_SCALE})
              + (abs(ss) // {PERIODOGRAM_SCALE}) * (abs(ss) // {PERIODOGRAM_SCALE})
           AS BIGINT) AS power_t
  FROM j)
SELECT user_id, CAST(p AS INT) AS dominant_period_h, power_t, n_hours
FROM pw
QUALIFY row_number() OVER (PARTITION BY user_id
                           ORDER BY power_t DESC, p) = 1
"""


def f_bitwise_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar family: AND/OR/XOR, shifts, popcount, single-bit
    extract — the ops the engine's bitmap/simhash internals use, exposed
    as a first-class projection suite (integer-exact, trivially
    portable)."""
    ev = _t(spark, sf_dir, "events").filter(
        F.pmod(F.col("event_id"), F.lit(_ID_STRIDE)) < 2000
    )
    a = F.col("user_id").cast("long")
    b = F.col("event_id").cast("long")
    return ev.select(
        "event_id",
        a.bitwiseAND(b).alias("b_and"),
        a.bitwiseOR(b).alias("b_or"),
        a.bitwiseXOR(b).alias("b_xor"),
        F.shiftleft(a, 3).alias("b_shl"),
        F.shiftright(b, 2).alias("b_shr"),
        F.bit_count(b).alias("b_pop"),
        F.expr("(event_id >> 4) & 1").cast("long").alias("b_bit4"),
        F.expr("~(CAST(user_id AS BIGINT) ^ CAST(user_id AS BIGINT))")
        .alias("b_zero_not"),  # ~0 == -1, sign-safe
    )


F_BITWISE_ORACLE = """
SELECT event_id,
       user_id & event_id AS b_and,
       user_id | event_id AS b_or,
       xor(user_id, event_id) AS b_xor,
       user_id << 3 AS b_shl,
       event_id >> 2 AS b_shr,
       CAST(bit_count(event_id) AS INT) AS b_pop,
       (event_id >> 4) & 1 AS b_bit4,
       CAST(-1 AS BIGINT) AS b_zero_not
FROM events WHERE event_id % 10000000 < 2000
"""


def a_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Theil-Sen robust trend: the MEDIAN of all pairwise slopes
    of the daily series — outlier-resistant where a_linreg_trend's OLS is
    not.  Pairs come from a per-user self-join on the (tiny) daily
    aggregate, never the raw events: O(days^2) per user with days bounded
    by the retention window, while the raw-event reduction happens first
    at O(n).  Slope unit: value per day."""
    daily = _daily_by_user(spark, sf_dir)
    a = daily.select(
        "user_id",
        F.col("day_ts").cast("double").alias("xa"),
        F.col("day_value").alias("ya"),
    )
    b = daily.select(
        "user_id",
        F.col("day_ts").cast("double").alias("xb"),
        F.col("day_value").alias("yb"),
    )
    pairs = a.join(b, on="user_id").filter(F.col("xa") < F.col("xb"))
    slope = (F.col("yb") - F.col("ya")) / (
        (F.col("xb") - F.col("xa")) / F.lit(86400.0)
    )
    return (
        pairs.select("user_id", slope.alias("s"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.median("s"), 8).alias("theil_sen_slope"),
        )
    )


A_THEIL_SEN_ORACLE = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day_ts,
         round(sum(value), 3) AS day_value
  FROM events GROUP BY 1, 2),
p AS (
  SELECT a.user_id,
         (b.day_value - a.day_value)
           / ((epoch(b.day_ts) - epoch(a.day_ts)) / 86400.0) AS s
  FROM daily a JOIN daily b
    ON a.user_id = b.user_id AND epoch(a.day_ts) < epoch(b.day_ts))
SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
       round(median(s), 8) AS theil_sen_slope
FROM p GROUP BY user_id
"""


def a_linreg_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user linear trend of value over time via covariance/variance
    aggregates (closed-form OLS — no iteration, one shuffle)."""
    ev = _t(spark, sf_dir, "events")
    x = F.col("ts").cast("timestamp").cast("double")
    y = F.col("value")
    base = ev.select("user_id", x.alias("x"), y.alias("y")).filter(
        F.col("y").isNotNull()
    )
    return (
        base.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.covar_pop("x", "y").alias("cv"),
            F.var_pop("x").alias("vx"),
            F.avg("x").alias("mx"),
            F.avg("y").alias("my"),
        )
        .select(
            "user_id",
            "n",
            F.round(F.col("cv") / F.col("vx") * 3600.0, 8).alias(
                "slope_per_hour"
            ),
            F.round(
                F.col("my") - F.col("cv") / F.col("vx") * F.col("mx"), 4
            ).alias("intercept"),
        )
    )


LINREG_ORACLE = """
SELECT user_id, count(*) AS n,
       round(covar_pop(x, y) / var_pop(x) * 3600.0, 8) AS slope_per_hour,
       round(avg(y) - covar_pop(x, y) / var_pop(x) * avg(x), 4) AS intercept
FROM (SELECT user_id, epoch(ts) AS x, value AS y
      FROM events WHERE value IS NOT NULL)
GROUP BY user_id
"""


def a_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per group (percentile == DuckDB
    quantile_cont, both linear-interpolating)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.25), 6).alias("q25"),
        F.round(F.percentile("value", 0.5), 6).alias("q50"),
        F.round(F.percentile("value", 0.75), 6).alias("q75"),
        F.round(F.percentile("value", 0.99), 6).alias("q99"),
    )


QUANTILES_ORACLE = """
SELECT event_type,
       round(quantile_cont(value, 0.25), 6) AS q25,
       round(quantile_cont(value, 0.50), 6) AS q50,
       round(quantile_cont(value, 0.75), 6) AS q75,
       round(quantile_cont(value, 0.99), 6) AS q99
FROM events GROUP BY 1
"""


def f_collections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation + element ops: ordered collect, slicing, membership."""
    ev = _t(spark, sf_dir, "events")
    per_user = (
        ev.filter(F.col("user_id") < 10)
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list("event_type")).alias("types"))
    )
    return per_user.select(
        "user_id",
        F.size("types").alias("n"),
        F.element_at("types", 1).alias("first_type"),
        F.size(F.array_distinct("types")).alias("n_distinct"),
        F.array_contains("types", "error").alias("has_error"),
        # Serialized to a scalar string: the driver's canonicalizer cannot
        # hash ArrayType cells (r1 f_higher_order / r3 f_collections lesson).
        F.array_join(F.slice(F.array_distinct("types"), 1, 2), ",").alias(
            "first_two_distinct"
        ),
    )


COLLECTIONS_ORACLE = """
WITH per_user AS (
  SELECT user_id, list(event_type ORDER BY event_type) AS types
  FROM events WHERE user_id < 10 GROUP BY user_id
)
SELECT user_id, len(types) AS n,
       types[1] AS first_type,
       len(list_distinct(types)) AS n_distinct,
       list_contains(types, 'error') AS has_error,
       array_to_string(list_slice(list_sort(list_distinct(types)), 1, 2), ',')
         AS first_two_distinct
FROM per_user
"""


# --------------------------------------------------------------------------
# Multimodal columns: opaque binary payloads + typed metadata, decode /
# stats / frame-sample as Arrow-batched mapInPandas (functions/multimodal).
# The deterministic FAKE codec gives closed forms a SQL oracle can verify
# WITHOUT touching binary — the whole encode->decode->stats path must
# reproduce pure arithmetic.
# --------------------------------------------------------------------------

from cassandra_fs_pp_spark.functions.multimodal import (  # noqa: E402
    audio_stats,
    image_stats,
    synthesize_media,
    video_frame_sample,
    with_media_meta,
)


def _media_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents").select("doc_id")


def mm_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synthesize_media(_media_ids(spark, sf_dir), "doc_id", kind="image")
    return with_media_meta(media).select(
        "doc_id", "meta.kind", "meta.width", "meta.height",
        "meta.channels", "meta.n_bytes",
    )


MM_META_ORACLE = """
SELECT doc_id, 'image' AS kind,
       CAST(16 + doc_id % 16 AS INT) AS width,
       CAST(8 + doc_id % 8 AS INT) AS height,
       CAST(3 AS INT) AS channels,
       CAST(9 + (16 + doc_id % 16) * (8 + doc_id % 8) * 3 AS INT) AS n_bytes
FROM documents
"""


def mm_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synthesize_media(_media_ids(spark, sf_dir), "doc_id", kind="image")
    st = image_stats(media, "doc_id")
    return st.select(
        "doc_id", "width", "height", "channels",
        F.round("mean_px", 6).alias("mean_px"), "min_px", "max_px",
    )


MM_STATS_ORACLE = """
WITH dims AS (
  SELECT doc_id, 16 + doc_id % 16 AS w, 8 + doc_id % 8 AS h FROM documents
), px AS (
  SELECT doc_id, w, h, unnest(range(w * h * 3)) AS i FROM dims
)
SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(3 AS INT) AS channels,
       round(avg((doc_id + i) % 256), 6) AS mean_px,
       CAST(min((doc_id + i) % 256) AS INT) AS min_px,
       CAST(max((doc_id + i) % 256) AS INT) AS max_px
FROM px GROUP BY doc_id, w, h
"""


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    vids = synthesize_media(_media_ids(spark, sf_dir), "doc_id", kind="video")
    frames = video_frame_sample(vids, "doc_id", every=2)
    return frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames_sampled"),
        F.sum("frame_idx").alias("sum_idx"),
    )


MM_FRAMES_ORACLE = """
WITH f AS (
  SELECT doc_id, unnest(range(1 + doc_id % 5)) AS idx FROM documents
)
SELECT doc_id, count(*) AS n_frames_sampled, CAST(sum(idx) AS BIGINT) AS sum_idx
FROM f WHERE idx % 2 = 0 GROUP BY doc_id
"""


def fleet_udg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's UDG despike chain (P8 gate -> per-site dominant
    frequency -> grid + limit-3 reindex-ffill -> trailing 2-day rolling
    median -> threshold null -> realign, ``fs_pp.py:514-567``) run in
    FLEET mode over 3 synthetic stations with different sampling rates —
    every window partitioned by site, per-key frequency detection, one
    pass. The corpus is a closed-form function of (site, k): per-site
    grids of (site+1)*15min with deterministic gaps (ffill-able and
    beyond-limit), quality faults, and one spike; the oracle recomputes
    the whole chain analytically in SQL."""
    from cassandra_fs_pp_spark.plans.levels import filter_udg

    ev = _t(spark, sf_dir, "events")
    k = F.col("k")
    src = (
        ev.select(
            (F.col("user_id") % 3).alias("site_n"),
            (F.col("event_id") % 400).alias("k"),
        )
        .distinct()
        .filter(~(k % 17).isin(3, 4) & ~k.between(100, 104))
        .select(
            F.concat(F.lit("S"), F.col("site_n")).alias("site"),
            F.expr(
                "timestamp '2024-01-01 00:00:00' + "
                "make_dt_interval(0, 0, 0, CAST((site_n + 1) * 900 * k AS DOUBLE))"
            ).alias("t"),
            (
                (k % 7) * F.lit(0.01)
                + F.col("site_n")
                + F.when(k == 50, F.lit(5.0)).otherwise(F.lit(0.0))
            ).alias("udg"),
            F.when(k % 37 == 0, F.lit(300))
            .when(k % 23 == 0, F.lit(None).cast("int"))
            .otherwise(F.lit(180))
            .alias("q"),
        )
    )
    return filter_udg(
        src, udg_col="udg", q_col="q", t="t", partition_by=["site"]
    ).select("site", "t", "udg")


FLEET_UDG_ORACLE = """
WITH ks AS (
  SELECT DISTINCT user_id % 3 AS site_n, event_id % 400 AS k FROM events
),
src AS (
  SELECT 'S' || CAST(site_n AS VARCHAR) AS site,
         site_n,
         TIMESTAMP '2024-01-01 00:00:00'
           + to_seconds((site_n + 1) * 900 * k) AS t,
         (k % 7) * CAST(0.01 AS DOUBLE) + site_n
           + CASE WHEN k = 50 THEN CAST(5.0 AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END AS udg,
         CASE WHEN k % 37 = 0 THEN 300
              WHEN k % 23 = 0 THEN NULL
              ELSE 180 END AS q
  FROM ks
  WHERE NOT (k % 17 IN (3, 4)) AND NOT (k BETWEEN 100 AND 104)
),
gated AS (
  SELECT site, site_n, t,
         CASE WHEN coalesce(q, 150) BETWEEN 150 AND 210 THEN udg END AS udg
  FROM src
),
bounds AS (
  SELECT site, site_n, (site_n + 1) * 900 AS fs,
         min(t) AS t0, max(t) AS t1
  FROM gated GROUP BY site, site_n
),
grid AS (
  SELECT site, fs, unnest(generate_series(t0, t1, to_seconds(fs))) AS t
  FROM bounds
),
g AS (
  SELECT grid.site, grid.fs, grid.t, gated.udg,
         (gated.site IS NOT NULL) AS orig
  FROM grid LEFT JOIN gated ON grid.site = gated.site AND grid.t = gated.t
),
f AS (
  SELECT site, fs, t, udg, orig,
         last_value(CASE WHEN orig THEN
             {'et': CAST(epoch(t) AS BIGINT), 'v': udg} END IGNORE NULLS)
           OVER (PARTITION BY site ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lo
  FROM g
),
filled AS (
  SELECT site, fs, t,
         CASE WHEN orig THEN udg
              WHEN CAST(epoch(t) AS BIGINT) - lo.et <= 3 * fs THEN lo.v
         END AS udg
  FROM f
),
despiked AS (
  SELECT site, t,
         CASE WHEN abs(median(udg) OVER (
                PARTITION BY site ORDER BY CAST(epoch(t) AS BIGINT)
                RANGE BETWEEN 172799 PRECEDING AND CURRENT ROW) - udg) < 0.5
              THEN udg END AS udg
  FROM filled
)
SELECT d.site, d.t, d.udg
FROM despiked d JOIN src ON d.site = src.site AND d.t = src.t
"""


def fleet_tdr_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8 fleet form under the gate: per-site TDR burial depth where the
    at-install normalization constant is a first-value window, no driver
    collect (``fs_pp.py:611-644``); ratchet closed form partitioned by site.
    Corpus: per-site triangular surface series, a closed-form function of
    (site, k) the oracle recomputes analytically."""
    from cassandra_fs_pp_spark.plans.levels import fleet_calc_depth_tdr

    ev = _t(spark, sf_dir, "events")
    k = F.col("k")
    tri = F.when(
        (k % 40) < 20, (k % 20) * F.lit(0.05)
    ).otherwise((20 - (k % 20)) * F.lit(0.05))
    src = (
        ev.select(
            (F.col("user_id") % 3).alias("site_n"),
            (F.col("event_id") % 200).alias("k"),
        )
        .distinct()
        .select(
            F.concat(F.lit("S"), F.col("site_n")).alias("site"),
            F.expr(
                "timestamp '2024-01-01 00:00:00' + "
                "make_dt_interval(0, 0, 0, CAST(k * 21600 AS DOUBLE))"
            ).alias("t"),
            (tri + F.col("site_n") * F.lit(0.1)).alias("udg"),
        )
    )
    import datetime as _dt

    return fleet_calc_depth_tdr(
        src, _dt.datetime(2024, 1, 1), -0.4, udg_col="udg", t="t"
    )


FLEET_TDR_ORACLE = """
WITH ks AS (
  SELECT DISTINCT user_id % 3 AS site_n, event_id % 200 AS k FROM events
),
src AS (
  SELECT 'S' || CAST(site_n AS VARCHAR) AS site,
         TIMESTAMP '2024-01-01 00:00:00' + to_seconds(k * 21600) AS t,
         CASE WHEN (k % 40) < 20 THEN (k % 20) * CAST(0.05 AS DOUBLE)
              ELSE (20 - (k % 20)) * CAST(0.05 AS DOUBLE) END
           + site_n * CAST(0.1 AS DOUBLE) AS udg
  FROM ks
),
norm AS (
  SELECT site, t,
         udg - first_value(udg) OVER (PARTITION BY site ORDER BY t) AS u
  FROM src
)
SELECT site, t,
       least(0.0, u - greatest(0.4, max(u) OVER (
         PARTITION BY site ORDER BY t
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))) AS depth
FROM norm
"""


def stream_fleet_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleet x streaming: per-station tumbling hourly aggregate with a
    late-data watermark — streaming state partitioned by (site, window),
    the shape that scales to a station fleet. availableNow drain in
    complete mode reproduces the batch groupBy exactly."""
    tune(spark)
    stream = stream_table(spark, sf_dir, "events").withColumn(
        "site", F.concat(F.lit("S"), F.col("user_id") % 3)
    )
    out = run_available_now(
        hourly_agg_stream(stream, keys=["site"]), output_mode="complete"
    )
    return out.select(
        "site",
        F.col("hour_ts").cast("timestamp_ntz").alias("hour_ts"),
        "n",
        "sum_value",
    )


STREAM_FLEET_ORACLE = """
SELECT 'S' || CAST(user_id % 3 AS VARCHAR) AS site,
       date_trunc('hour', ts) AS hour_ts, count(*) AS n,
       round(sum(value), 3) AS sum_value
FROM events GROUP BY 1, 2
"""


def emb_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative Lloyd k-means (2 unrolled rounds, k=4) — the canonical
    broadcast-centroids + agg-shuffle ML loop, fully deterministic:
    quantized integer distances (argmin can't drift with float sum
    order), exact fixed-point centroid means, ties to the lowest
    cluster. The oracle replays both rounds as unrolled CTEs."""
    from cassandra_fs_pp_spark.operators.similarity import kmeans_assign

    return kmeans_assign(
        _t(spark, sf_dir, "embeddings", spread=False), k=4, iterations=2
    )


_KM_DIST = """
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(range(1, 65), j ->
             CAST(round((x[j] - cv[j]) * (x[j] - cv[j]) * 1000000000)
               AS BIGINT))),
           (a, t) -> a + t)
"""

EMB_KMEANS_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
init AS (SELECT vec_id AS c, embedding::DOUBLE[] AS cv
         FROM embeddings WHERE vec_id < 4),
d1 AS (
  SELECT e.vec_id, init.c, {_KM_DIST.strip()} AS d
  FROM e CROSS JOIN init),
a1 AS (
  SELECT vec_id, c AS cluster FROM (
    SELECT vec_id, c,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
    FROM d1) WHERE rn = 1),
ex1 AS (
  SELECT a1.cluster, u.j - 1 AS pos, x[u.j] AS v
  FROM a1 JOIN e USING (vec_id),
       UNNEST(generate_series(1, 64)) AS u(j)),
m1 AS (
  SELECT cluster, pos,
         CAST(sum(CAST(round(v * 1000000000) AS BIGINT)) AS DOUBLE)
           / 1000000000.0 / count(*) AS m
  FROM ex1 GROUP BY cluster, pos),
cent1 AS (
  SELECT cluster AS c, list(m ORDER BY pos) AS cv FROM m1 GROUP BY cluster),
d2 AS (
  SELECT e.vec_id, cent1.c, {_KM_DIST.strip()} AS d
  FROM e CROSS JOIN cent1),
a2 AS (
  SELECT vec_id, c AS cluster FROM (
    SELECT vec_id, c,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
    FROM d2) WHERE rn = 1)
SELECT vec_id, cluster FROM a2
"""


def mm_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec path under the correctness gate: each row encodes an
    actual PNG (pure-python encoder) of a deterministic solid image
    derived from doc_id, ships the bytes through the corpus, decodes with
    the engine's spec-conformant PNG decoder, and reports pixel stats.
    The oracle never sees the bytes — it recomputes the closed form the
    image was built from, so a green row certifies the full distributed
    encode->binary column->decode round-trip."""
    import pandas as _pd
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    from cassandra_fs_pp_spark.functions.multimodal import (
        decode_real_image,
        encode_png,
    )

    ids = _media_ids(spark, sf_dir)

    enc_schema = StructType(
        [StructField("doc_id", LongType()), StructField("png", BinaryType())]
    )

    def enc(batches):
        import numpy as _np

        for pdf in batches:
            pdf = pdf[["doc_id"]].copy()
            pdf["png"] = [
                encode_png(
                    _np.full(
                        (4 + int(k) % 3, 5, 3), int(k) % 256, dtype=_np.uint8
                    )
                )
                for k in pdf["doc_id"]
            ]
            yield pdf

    out_schema = "doc_id long, h long, w long, c long, mean_px double, n_png_bytes long"

    def dec(batches):
        for pdf in batches:
            rows = []
            for k, payload in zip(pdf["doc_id"], pdf["png"]):
                arr = decode_real_image(bytes(payload))
                rows.append(
                    (
                        int(k),
                        arr.shape[0],
                        arr.shape[1],
                        arr.shape[2],
                        float(arr.mean()),
                        len(payload),
                    )
                )
            yield _pd.DataFrame(
                rows,
                columns=["doc_id", "h", "w", "c", "mean_px", "n_png_bytes"],
            )

    return (
        ids.mapInPandas(enc, schema=enc_schema)
        .mapInPandas(dec, schema=out_schema)
        .select("doc_id", "h", "w", "c", "mean_px")
    )


MM_PNG_ORACLE = """
SELECT doc_id,
       CAST(4 + doc_id % 3 AS BIGINT) AS h,
       CAST(5 AS BIGINT) AS w,
       CAST(3 AS BIGINT) AS c,
       CAST(doc_id % 256 AS DOUBLE) AS mean_px
FROM documents
"""


def mm_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossy-codec path under the correctness gate: each row encodes
    an actual baseline JPEG (from-spec pure-python encoder, T.81 Annex K
    tables) of a deterministic FLAT grayscale frame, ships the bytes
    through the corpus, decodes with the engine's from-spec JPEG decoder,
    and reports pixel stats.  Exactness is by construction: a flat
    8×8-aligned block with an EVEN sample value has DC = 8·(v−128), a
    multiple of the quality-50 DC quantum 16, and zero AC — so the lossy
    codec is bit-exact on these frames and the oracle can recompute the
    closed form without ever seeing the bytes."""
    import pandas as _pd
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from cassandra_fs_pp_spark.functions.multimodal import decode_real_image
    from cassandra_fs_pp_spark.jpeg import encode_jpeg

    ids = _media_ids(spark, sf_dir)
    enc_schema = StructType(
        [StructField("doc_id", LongType()), StructField("jpg", BinaryType())]
    )

    def enc(batches):
        import numpy as _np

        for pdf in batches:
            pdf = pdf[["doc_id"]].copy()
            pdf["jpg"] = [
                encode_jpeg(
                    _np.full(
                        (8 * (1 + int(k) % 3), 16),
                        2 * (int(k) % 128),
                        dtype=_np.uint8,
                    )
                )
                for k in pdf["doc_id"]
            ]
            yield pdf

    out_schema = (
        "doc_id long, h long, w long, mean_px double, min_px long, max_px long"
    )

    def dec(batches):
        for pdf in batches:
            rows = []
            for k, payload in zip(pdf["doc_id"], pdf["jpg"]):
                arr = decode_real_image(bytes(payload))
                rows.append(
                    (
                        int(k),
                        arr.shape[0],
                        arr.shape[1],
                        float(arr.mean()),
                        int(arr.min()),
                        int(arr.max()),
                    )
                )
            yield _pd.DataFrame(
                rows,
                columns=["doc_id", "h", "w", "mean_px", "min_px", "max_px"],
            )

    return ids.mapInPandas(enc, schema=enc_schema).mapInPandas(
        dec, schema=out_schema
    )


MM_JPEG_ORACLE = """
SELECT doc_id,
       CAST(8 * (1 + doc_id % 3) AS BIGINT) AS h,
       CAST(16 AS BIGINT) AS w,
       CAST(2 * (doc_id % 128) AS DOUBLE) AS mean_px,
       CAST(2 * (doc_id % 128) AS BIGINT) AS min_px,
       CAST(2 * (doc_id % 128) AS BIGINT) AS max_px
FROM documents
"""


def mm_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection: 64-bit perceptual hash (DCT pHash,
    functions/multimodal.py ``phash64`` over Arrow batches) + banded
    hamming search reusing the TEXT dedup machinery
    (``simhash_band_pairs`` with bits=64) — same-photo-small-edit pairs
    surface, independent images do not.  Corpus = k-seeded noise images
    plus a perturbed copy (clipped +7 on a 3x3 patch) for every 5th doc.
    FULLY oracled (graduated from rows-only in r8): the hash is exact
    integer end-to-end — integer noise pixels (``noise_pixels``),
    fixed-point DCT basis (``phash_basis``, constants inlined into the
    SQL), twice-the-median integer threshold — so the DuckDB oracle
    replays image synthesis, perturbation, pHash, and the banded hamming
    search bit-for-bit."""
    from cassandra_fs_pp_spark.functions.multimodal import (
        image_phash,
        perturb_image,
        synthesize_noise_media,
    )
    from cassandra_fs_pp_spark.operators.textdedup import simhash_band_pairs

    ids = _media_ids(spark, sf_dir)
    orig = synthesize_noise_media(ids, "doc_id")

    import pandas as _pd  # noqa: N813

    def mutate(batches):
        for pdf in batches:
            pdf = pdf[pdf["doc_id"] % 5 == 0].copy()
            pdf["payload"] = [perturb_image(bytes(p)) for p in pdf["payload"]]
            pdf["doc_id"] = pdf["doc_id"] + 100000
            yield pdf

    dups = orig.mapInPandas(mutate, schema=orig.schema)
    hashed = image_phash(orig.unionByName(dups), "doc_id")
    return simhash_band_pairs(
        hashed, bits=64, bands=8, max_hamming=7,
        id_col="doc_id", fp_col="phash",
    )


def _mm_phash_oracle_sql() -> str:
    """DuckDB replay of the ENTIRE mm_phash_pairs pipeline — noise-image
    synthesis (integer mix, ``functions/multimodal.py noise_pixels``),
    3x3-patch perturbation, integer-DCT pHash (basis constants inlined
    from ``phash_basis`` so both engines share the exact table), and the
    8-band hamming<=7 search.  Every intermediate is int64-exact; the
    factorized DCT (R = B.G then D = R.B^T) keeps the join volume at
    docs x 8 x 32 x 32 instead of docs x 64 x 1024."""
    from cassandra_fs_pp_spark.functions.multimodal import phash_basis

    B = phash_basis()
    basis_rows = ",".join(
        f"({u},{i},{int(B[u, i])})" for u in range(8) for i in range(32)
    )
    return f"""
WITH ids AS (
  SELECT doc_id, doc_id AS k, 0 AS is_dup FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, doc_id AS k, 1 AS is_dup
  FROM documents WHERE doc_id % 5 = 0
),
raw AS (
  SELECT ids.doc_id, ids.is_dup, p.range AS idx,
         ((ids.k + 1) * 2654435761 + (p.range + 1) * 40503
          + (ids.k * p.range % 65536) * 2971) % 4294967296 AS h0
  FROM ids CROSS JOIN range(1024) p
),
px AS (
  -- perturb by the EXPLICIT dup flag: inferring it from id magnitude
  -- (doc_id >= 100000) broke on shifted-key probe corpora whose
  -- ORIGINALS exceed the offset (found by the r11 8x oracle sweep:
  -- the oracle perturbed shifted originals too, collapsing their
  -- engineered pairs to hamming 0 while Spark correctly read 2-4)
  SELECT doc_id, idx // 32 AS y, idx % 32 AS x,
         CASE WHEN is_dup = 1 AND idx // 32 < 3 AND idx % 32 < 3
              THEN least(xor(h0, h0 >> 15) % 256 + 7, 255)
              ELSE xor(h0, h0 >> 15) % 256 END AS px
  FROM raw
),
basis(u, i, b) AS (VALUES {basis_rows}),
r AS (
  SELECT px.doc_id, basis.u, px.x, CAST(sum(basis.b * px.px) AS BIGINT) AS rv
  FROM px JOIN basis ON basis.i = px.y
  GROUP BY px.doc_id, basis.u, px.x
),
d AS (
  SELECT r.doc_id, r.u, basis.u AS v, CAST(sum(r.rv * basis.b) AS BIGINT) AS dv
  FROM r JOIN basis ON basis.i = r.x
  GROUP BY r.doc_id, r.u, basis.u
),
blk AS (
  SELECT doc_id, u * 8 + v AS bit, dv,
         row_number() OVER (PARTITION BY doc_id ORDER BY dv, u * 8 + v) AS rn
  FROM d
),
med AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN rn IN (32, 33) THEN dv ELSE 0 END) AS BIGINT) AS m
  FROM blk GROUP BY doc_id
),
hash AS (
  SELECT blk.doc_id,
         CAST(sum(CASE WHEN 2 * dv > m AND bit < 63
                       THEN CAST(1 AS BIGINT) << CAST(bit AS INT)
                       ELSE 0 END)
           + CASE WHEN max(CASE WHEN bit = 63 AND 2 * dv > m
                               THEN 1 ELSE 0 END) = 1
                  THEN -9223372036854775808 ELSE 0 END AS BIGINT) AS phash
  FROM blk JOIN med ON blk.doc_id = med.doc_id
  GROUP BY blk.doc_id
),
banded AS (
  SELECT doc_id, phash, b.range AS band,
         (phash >> CAST(b.range * 8 AS INT)) & 255 AS bval
  FROM hash CROSS JOIN range(8) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.phash AS fp_a, b.phash AS fp_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 7
"""


def mm_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    auds = synthesize_media(_media_ids(spark, sf_dir), "doc_id", kind="audio")
    st = audio_stats(auds, "doc_id")
    return st.select(
        "doc_id", "n_samples", "sample_rate",
        F.round("mean_amp", 6).alias("mean_amp"),
        F.round("rms", 6).alias("rms"),
    )


MM_AUDIO_ORACLE = """
WITH s AS (
  SELECT doc_id, ((doc_id * 7 + unnest(range(100 + doc_id % 100)) * 3) % 512)
                 - 256 AS amp
  FROM documents
)
SELECT doc_id, CAST(count(*) AS INT) AS n_samples,
       CAST(16000 AS INT) AS sample_rate,
       round(avg(amp), 6) AS mean_amp,
       round(sqrt(avg(CAST(amp AS DOUBLE) * amp)), 6) AS rms
FROM s GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Structured Streaming skin: availableNow drains of the streaming twins must
# equal their batch SQL (SURVEY §2.10 — beyond-reference incremental layer).
# --------------------------------------------------------------------------

from cassandra_fs_pp_spark.streaming import (  # noqa: E402
    hourly_agg_stream,
    run_available_now,
    stream_table,
    watermark_dedup,
)


def stream_hourly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8's tumbling agg as a Structured Streaming query, drained with
    trigger(availableNow) — complete mode reproduces the batch result."""
    tune(spark)
    stream = stream_table(spark, sf_dir, "events")
    out = run_available_now(
        hourly_agg_stream(stream), output_mode="complete"
    )
    return out.select(
        F.col("hour_ts").cast("timestamp_ntz").alias("hour_ts"), "n", "sum_value"
    )


STREAM_A8_ORACLE = """
SELECT date_trunc('hour', ts) AS hour_ts, count(*) AS n,
       round(sum(value), 3) AS sum_value
FROM events GROUP BY 1
"""


def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3's keyed dedup as dropDuplicatesWithinWatermark -> per-type counts."""
    tune(spark)
    stream = stream_table(spark, sf_dir, "events")
    dd = watermark_dedup(stream, ["user_id", "event_type", "ts"], delay="1 hour")
    counts = dd.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return run_available_now(counts, output_mode="complete")


STREAM_DEDUP_ORACLE = """
SELECT event_type, count(*) AS n FROM (
  SELECT DISTINCT user_id, event_type, ts FROM events)
GROUP BY event_type
"""


def stream_debounce_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admit-first-of-burst debounce as a custom stateful streaming
    operator (streaming/filestream.py ``debounce_admit_stateful``) — the
    realtime twin of ``p_debounce_burst_keyed``: one long of state per
    (user_id, event_type), first event of each >30-min-gap burst emitted
    immediately, the rest suppressed. availableNow drain == the batch
    gaps-and-islands first-rows, which is exactly the oracle."""
    from cassandra_fs_pp_spark.streaming import (
        debounce_admit_stateful,
        run_available_now,
        stream_table,
    )

    tune(spark)
    stream = stream_table(spark, sf_dir, "events")
    admitted = debounce_admit_stateful(
        stream, keys=["user_id", "event_type"], gap_s=1800
    )
    return run_available_now(admitted)


STREAM_DEBOUNCE_ORACLE = """
WITH o AS (
  SELECT user_id, event_type, event_id, ts,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts, event_id) AS prev_us
  FROM events
)
SELECT user_id, event_type, event_id AS admitted_event_id, ts
FROM o WHERE prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
"""


def stream_geofence_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geofence admission over the event stream — the streaming twin of
    ``geo_point_in_polygon``: events hashed to the shared deterministic
    tangent plane, tagged by the STATELESS projection ray-cast
    (``operators/geo.py point_in_polygon_tag`` — literal edge arrays,
    higher-order aggregate, no join/shuffle/state), so the availableNow
    drain equals the batch run row-for-row by construction; only events
    inside some fleet region are admitted downstream."""
    from cassandra_fs_pp_spark.operators.geo import point_in_polygon_tag
    from cassandra_fs_pp_spark.streaming import (
        run_available_now,
        stream_table,
    )

    tune(spark)
    ev = stream_table(spark, sf_dir, "events")
    md5 = F.md5(F.concat(F.lit("g"), F.col("event_id").cast("string")))
    pts = ev.select(
        F.col("event_id"),
        (F.conv(F.substring(md5, 1, 15), 16, 10).cast("long") % 100000)
        .alias("x"),
        (F.conv(F.substring(md5, 16, 15), 16, 10).cast("long") % 100000)
        .alias("y"),
    )
    tagged = point_in_polygon_tag(pts, GEO_REGIONS).select(
        F.col("event_id").alias("admitted_event_id"), "region_id"
    )
    return run_available_now(tagged)


def _stream_geofence_oracle_sql() -> str:
    return _geo_pip_oracle_sql().replace(
        "SELECT id, region_id FROM hits WHERE crossings % 2 = 1",
        "SELECT id AS admitted_event_id, region_id "
        "FROM hits WHERE crossings % 2 = 1",
    )


def ann_block_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine kNN, scale formulation: broadcast the (small) query
    matrix, one BLAS matmul per Arrow batch of the distributed corpus,
    map-side partial top-k so the exchange carries O(parts*Q*k) candidate
    rows instead of the O(Q*N) pair explosion of ann_bruteforce_topk.
    Same answer set (ranks differential-tested); no float in the output so
    the oracle compare is exact."""
    from cassandra_fs_pp_spark.operators.similarity import block_matmul_topk

    emb = _t(spark, sf_dir, "embeddings", spread=False)
    return block_matmul_topk(
        emb, k=5, queries=emb.filter(F.col("vec_id") < 50)
    )


ANN_BLOCK_ORACLE = """
WITH pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
         / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
          * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])))
           AS cosine
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 50
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM pairs
) WHERE rank <= 5
"""


def ann_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage Matryoshka retrieval: coarse top-64 on the 32-dim prefix
    (2× fewer FLOPs at full corpus width), exact 64-dim rerank of only
    those candidates. Deterministic global coarse cut → full SQL oracle;
    integer-only output like ann_block_topk."""
    from cassandra_fs_pp_spark.operators.similarity import matryoshka_topk

    emb = _t(spark, sf_dir, "embeddings", spread=False)
    return matryoshka_topk(
        emb, k=5, coarse_k=64, prefix_dim=32,
        queries=emb.filter(F.col("vec_id") < 50),
    )


ANN_MATRYOSHKA_ORACLE = """
WITH q AS (
  SELECT vec_id, embedding,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings WHERE vec_id < 50
), c AS (
  SELECT vec_id, embedding,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
), coarse AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.embedding[1:32]::DOUBLE[], c.embedding[1:32]::DOUBLE[])
           / (q.nrm * c.nrm) AS cs
  FROM q JOIN c ON q.vec_id <> c.vec_id
), cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS crank
    FROM coarse
  ) WHERE crank <= 64
), exact AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
           / (q.nrm * c.nrm) AS cosine
  FROM cand
  JOIN q ON q.vec_id = cand.query_id
  JOIN c ON c.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM exact
) WHERE rank <= 5
"""


def curation_source_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus budgeting: deterministic doc order, keep while the
    running char total stays within budget — the domain-cap step of corpus
    mixing. One window cumsum; the source key is the shuffle key."""
    from cassandra_fs_pp_spark.functions.curation import source_budget_keep

    docs = _t(spark, sf_dir, "documents")
    return source_budget_keep(docs, budget=4000).select(
        "doc_id", "source", "n_chars", "cum_size"
    )


CURATION_BUDGET_ORACLE = """
SELECT doc_id, source, n_chars, CAST(cum_size AS BIGINT) AS cum_size FROM (
  SELECT doc_id, source, n_chars,
         sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum_size
  FROM documents)
WHERE cum_size <= 4000
"""


SPAN_WORDS = 16


def dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-span removal — exact substring dedup at fixed chunk
    granularity (the within/cross-document boilerplate scrub real corpus
    pipelines run after doc-level dedup): 16-word non-overlapping chunks,
    first occurrence in (doc_id, chunk_index) order wins, per-doc
    retention stats. Chunk identity is a hash-groupBy key: shuffle is
    O(total chunks), never pairwise."""
    docs = _t(spark, sf_dir, "documents")
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    chunks = docs.select("doc_id", ws.alias("__ws")).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(__ws)/{SPAN_WORDS}.0) as int) - 1),"
                f" ci -> array_join(slice(__ws, ci*{SPAN_WORDS}+1, {SPAN_WORDS}), ' '))"
            )
        ).alias("ci", "chunk"),
    )
    w = Window.partitionBy("chunk").orderBy("doc_id", "ci")
    ranked = chunks.withColumn("__rn", F.row_number().over(w))
    dup = F.when(F.col("__rn") > 1, 1).otherwise(0)
    cnt = F.count(F.lit(1))
    ndup = F.sum(dup)
    return ranked.groupBy("doc_id").agg(
        cnt.alias("n_chunks"),
        ndup.cast("bigint").alias("n_dup_chunks"),
        (F.lit(1.0) - ndup.cast("double") / cnt.cast("double")).alias(
            "retained_ratio"
        ),
    )


DEDUP_SPANS_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents),
ch AS (
  SELECT doc_id,
         unnest(range(CAST(ceil(len(ws)/{SPAN_WORDS}.0) AS INT))) AS ci,
         ws
  FROM tok),
chunks AS (
  SELECT doc_id, ci,
         array_to_string(ws[ci*{SPAN_WORDS}+1 : ci*{SPAN_WORDS}+{SPAN_WORDS}], ' ')
           AS chunk
  FROM ch),
ranked AS (
  SELECT doc_id, ci,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, ci) AS rn
  FROM chunks)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks,
       CAST(1 AS DOUBLE)
         - CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS retained_ratio
FROM ranked GROUP BY doc_id
"""


VERBATIM_K = 8


def dedup_verbatim_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim-substring dedup at ARBITRARY alignment (the Lee et al.
    suffix-array dedup shape, distributed): every maximal span of >= 8
    whitespace tokens occurring verbatim at >= 2 (doc, position) sites
    corpus-wide. Complements the chunk-granular ``dedup_spans`` (fixed
    16-word alignment misses shifted repeats) and the shift-robust-but-
    approximate ``text_cdc_chunks``. See
    ``operators.textdedup.verbatim_spans`` for the O(total shingles)
    no-pair-explosion argument."""
    from cassandra_fs_pp_spark.operators.textdedup import verbatim_spans

    docs = _t(spark, sf_dir, "documents")
    return verbatim_spans(docs, k=VERBATIM_K)


DEDUP_VERBATIM_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents),
pos AS (
  SELECT doc_id, unnest(range(len(ws) - {VERBATIM_K} + 1)) AS pos, ws
  FROM tok WHERE len(ws) >= {VERBATIM_K}),
shing AS (
  SELECT doc_id, pos,
         array_to_string(ws[pos+1 : pos+{VERBATIM_K}], ' ') AS shingle
  FROM pos),
dup AS (
  SELECT shingle FROM shing GROUP BY shingle HAVING count(*) >= 2),
hit AS (
  SELECT s.doc_id, s.pos FROM shing s JOIN dup d USING (shingle)),
runs AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM hit)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {VERBATIM_K - 1} AS BIGINT) AS span_end,
       CAST(max(pos) - min(pos) + {VERBATIM_K} AS BIGINT) AS n_tokens
FROM runs GROUP BY doc_id, grp
"""


def dedup_strip_verbatim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OUTPUT stage of verbatim dedup (the Lee et al. pipeline's
    actual product): every repeated >= 8-token span is removed except
    its corpus-wide first occurrence in (doc_id, pos) order; emits the
    rewritten text + per-doc retention stats for every document. See
    ``operators.textdedup.strip_verbatim`` for the plan-shape argument
    (drop sets rebuilt per-row with an index-aware array filter — no
    token-level shuffle)."""
    from cassandra_fs_pp_spark.operators.textdedup import strip_verbatim

    docs = _t(spark, sf_dir, "documents")
    return strip_verbatim(docs, k=VERBATIM_K)


DEDUP_STRIP_VERBATIM_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents),
shing AS (
  SELECT doc_id, pos,
         array_to_string(ws[pos+1 : pos+{VERBATIM_K}], ' ') AS shingle
  FROM (SELECT doc_id, unnest(range(len(ws) - {VERBATIM_K} + 1)) AS pos, ws
        FROM tok WHERE len(ws) >= {VERBATIM_K})),
ranked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY shingle ORDER BY doc_id, pos) AS rn,
         count(*) OVER (PARTITION BY shingle) AS n
  FROM shing),
dropped AS (
  SELECT DISTINCT doc_id, pos + u.j AS dp
  FROM ranked, UNNEST(generate_series(0, {VERBATIM_K - 1})) AS u(j)
  WHERE n >= 2 AND rn > 1),
alltok AS (
  SELECT doc_id, u.j - 1 AS pos, ws[u.j] AS tok
  FROM tok, UNNEST(generate_series(1, len(ws))) AS u(j)),
kept AS (
  SELECT a.doc_id, a.pos, a.tok
  FROM alltok a ANTI JOIN dropped d
    ON a.doc_id = d.doc_id AND a.pos = d.dp),
agg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id)
SELECT t.doc_id,
       coalesce(agg.clean_text, '') AS clean_text,
       CAST(len(t.ws) AS BIGINT) AS n_tokens,
       CAST(len(t.ws) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_dropped
FROM tok t LEFT JOIN agg ON t.doc_id = agg.doc_id
"""


def dedup_chain_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-chain exact substring dedup (r16, VERDICT r15 item 8):
    maximal >= 8-token spans occurring verbatim at a single consistent
    partner site — each span chained in LOCKSTEP against its shingles'
    corpus-canonical ((doc, pos)-min) occurrence, the suffix-array
    extend-against-first-occurrence convention. Closes the gap between
    ``dedup_verbatim_spans`` (run-merge over duplicated shingle starts
    — maximal COVERAGE, but a merged span may be a chimera of
    different partners) and a true pairwise maximal-match table (pair-
    quadratic by nature). Emits (doc_id, span_start, span_end,
    n_tokens, src_doc, src_start); the span's tokens equal the source
    site's tokens (pytest-asserted). See
    ``operators.textdedup.suffix_chain_spans`` for the O(total
    shingles) argument."""
    from cassandra_fs_pp_spark.operators.textdedup import suffix_chain_spans

    docs = _t(spark, sf_dir, "documents")
    return suffix_chain_spans(docs, k=VERBATIM_K)


DEDUP_CHAIN_SPANS_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents),
shing AS (
  SELECT doc_id, pos,
         array_to_string(ws[pos+1 : pos+{VERBATIM_K}], ' ') AS shingle
  FROM (SELECT doc_id, unnest(range(len(ws) - {VERBATIM_K} + 1)) AS pos, ws
        FROM tok WHERE len(ws) >= {VERBATIM_K})),
canon AS (
  SELECT doc_id, pos,
         first_value(doc_id) OVER w AS src_doc,
         first_value(pos) OVER w AS src_pos
  FROM shing
  WINDOW w AS (PARTITION BY shingle ORDER BY doc_id, pos
               ROWS BETWEEN UNBOUNDED PRECEDING
                        AND UNBOUNDED FOLLOWING)),
occ AS (
  SELECT doc_id, pos, src_doc, pos - src_pos AS diag
  FROM canon WHERE NOT (doc_id = src_doc AND pos = src_pos)),
runs AS (
  SELECT doc_id, src_doc, diag, pos,
         pos - row_number() OVER (PARTITION BY doc_id, src_doc, diag
                                  ORDER BY pos) AS grp
  FROM occ)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {VERBATIM_K - 1} AS BIGINT) AS span_end,
       CAST(max(pos) - min(pos) + {VERBATIM_K} AS BIGINT) AS n_tokens,
       src_doc,
       CAST(min(pos) - diag AS BIGINT) AS src_start
FROM runs GROUP BY doc_id, src_doc, diag, grp
"""


def text_lm_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-familiarity score (cheap LM-perplexity proxy): each doc's
    mean corpus-wide frequency of its bigrams. Two aggregations + one
    shuffle join on the bigram key — integer counts all the way, a single
    exact division at the end (no transcendental functions, so Spark and
    the oracle agree bit-for-bit)."""
    docs = _t(spark, sf_dir, "documents")
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    # Guard single-token docs: sequence(1, 0) is the DESCENDING [1, 0] in
    # Spark and element_at(__ws, 0) throws — emit an empty array instead
    # (matches DuckDB's range(1, 1) = [] on the oracle side; explode drops
    # the doc from the output either way).
    bg = docs.select("doc_id", ws.alias("__ws")).select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(__ws) >= 2 THEN"
                " transform(sequence(1, size(__ws) - 1),"
                " i -> concat(element_at(__ws, i), ' ', element_at(__ws, i + 1)))"
                " ELSE array() END"
            )
        ).alias("bg"),
    )
    counts = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("__c"))
    n = F.count(F.lit(1))
    return (
        bg.join(counts, "bg")
        .groupBy("doc_id")
        .agg(
            n.alias("n_bigrams"),
            (F.sum("__c").cast("double") / n.cast("double")).alias(
                "mean_bigram_freq"
            ),
        )
    )


TEXT_LM_FAMILIARITY_ORACLE = r"""
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents),
bgs AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws)),
                i -> list_extract(ws, i) || ' ' || list_extract(ws, i + 1)))
           AS bg
  FROM tok),
cnt AS (SELECT bg, count(*) AS c FROM bgs GROUP BY bg)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_bigram_freq
FROM bgs JOIN cnt USING (bg)
GROUP BY doc_id
"""


def text_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under an interpolated Kneser-Ney bigram LM
    trained on the corpus itself — the real CCNet-style model-based
    quality signal (text_lm_familiarity is the frequency proxy). Fixed
    discount 3/4, exact integer count statistics, per-term nano-nat
    rounding before the order-insensitive integer sum. New in r11
    (VERDICT r10 item 5)."""
    from cassandra_fs_pp_spark.functions.text import kn_perplexity

    return kn_perplexity(_t(spark, sf_dir, "documents"), order=2)


# shared KN-scoring CTE prefix (tok -> bg -> types -> lft/rgt/tot -> lp):
# TEXT_KN_PERPLEXITY_ORACLE and CURATION_CCNET_ORACLE both append their
# final SELECTs to this, so the model SQL cannot drift between them
_KN_CTE_SQL = r"""
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents),
bg AS (
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
  FROM tok, UNNEST(generate_series(1, len(ws) - 1)) AS u(i)
  WHERE len(ws) >= 2),
types AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2),
lft AS (
  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, CAST(count(*) AS BIGINT) AS n1p_l
  FROM types GROUP BY 1),
rgt AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p_r FROM types GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM types),
lp AS (
  SELECT t.w1, t.w2,
         CAST(round(ln(
           (CAST(t.c12 AS DOUBLE) - 0.75) / CAST(l.c1 AS DOUBLE)
           + (0.75 * CAST(l.n1p_l AS DOUBLE) / CAST(l.c1 AS DOUBLE))
             * (CAST(r.n1p_r AS DOUBLE) / CAST(tot.t AS DOUBLE))
         ) * 1e9) AS BIGINT) AS lp_nano
  FROM types t JOIN lft l USING (w1) JOIN rgt r ON r.w2 = t.w2 CROSS JOIN tot)
"""

TEXT_KN_PERPLEXITY_ORACLE = _KN_CTE_SQL + r"""
SELECT bg.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(-sum(lp_nano) AS BIGINT) AS nll_nano,
       round(exp((CAST(-sum(lp_nano) AS DOUBLE) / 1e9)
                 / CAST(count(*) AS DOUBLE)), 6) AS ppl
FROM bg JOIN lp ON lp.w1 = bg.w1 AND lp.w2 = bg.w2
GROUP BY 1
"""


def text_kn3_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated TRIGRAM Kneser-Ney perplexity with recursive
    continuation-count backoff (Chen-Goodman) — the next order up from
    ``text_kn_perplexity`` toward CCNet's 5-gram signal: the one KN
    scorer, ``kn_perplexity``, at ``order=3``. All model tables derive
    from the trigram TYPE table (scale with distinct types, not
    occurrences); one occurrence-side hash join. New in r12 (VERDICT
    r11 item 4)."""
    from cassandra_fs_pp_spark.functions.text import kn_perplexity

    return kn_perplexity(_t(spark, sf_dir, "documents"), order=3)


TEXT_KN3_PERPLEXITY_ORACLE = r"""
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents),
tg AS (
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3
  FROM tok, UNNEST(generate_series(1, len(ws) - 2)) AS u(i)
  WHERE len(ws) >= 3),
t3 AS (
  SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c123
  FROM tg GROUP BY 1, 2, 3),
ctx12 AS (
  SELECT w1, w2, CAST(sum(c123) AS BIGINT) AS c12dot,
         CAST(count(*) AS BIGINT) AS n3d
  FROM t3 GROUP BY 1, 2),
cont23 AS (
  SELECT w2, w3, CAST(count(*) AS BIGINT) AS n1p23 FROM t3 GROUP BY 1, 2),
ctx2 AS (
  SELECT w2, CAST(sum(n1p23) AS BIGINT) AS n1p2dot,
         CAST(count(*) AS BIGINT) AS ndw3
  FROM cont23 GROUP BY 1),
cont3 AS (
  SELECT w3, CAST(count(*) AS BIGINT) AS n1p3 FROM cont23 GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS t2 FROM cont23),
lp AS (
  SELECT t.w1, t.w2, t.w3,
         CAST(round(ln(
           (CAST(t.c123 AS DOUBLE) - 0.75) / CAST(x.c12dot AS DOUBLE)
           + (0.75 * CAST(x.n3d AS DOUBLE) / CAST(x.c12dot AS DOUBLE))
             * ((CAST(c.n1p23 AS DOUBLE) - 0.75) / CAST(y.n1p2dot AS DOUBLE)
                + (0.75 * CAST(y.ndw3 AS DOUBLE) / CAST(y.n1p2dot AS DOUBLE))
                  * (CAST(z.n1p3 AS DOUBLE) / CAST(tot.t2 AS DOUBLE)))
         ) * 1e9) AS BIGINT) AS lp_nano
  FROM t3 t
  JOIN ctx12 x ON x.w1 = t.w1 AND x.w2 = t.w2
  JOIN cont23 c ON c.w2 = t.w2 AND c.w3 = t.w3
  JOIN ctx2 y ON y.w2 = t.w2
  JOIN cont3 z ON z.w3 = t.w3
  CROSS JOIN tot)
SELECT tg.doc_id,
       CAST(count(*) AS BIGINT) AS n_trigrams,
       CAST(-sum(lp_nano) AS BIGINT) AS nll_nano,
       round(exp((CAST(-sum(lp_nano) AS DOUBLE) / 1e9)
                 / CAST(count(*) AS DOUBLE)), 6) AS ppl
FROM tg JOIN lp ON lp.w1 = tg.w1 AND lp.w2 = tg.w2 AND lp.w3 = tg.w3
GROUP BY 1
"""


def text_kn5_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated 5-GRAM Kneser-Ney perplexity with full recursive
    continuation-count backoff — CCNet's actual signal order; closes the
    kn ladder (kn2 -> kn3 -> kn5; VERDICT r12 item 6): the one KN
    scorer, ``kn_perplexity``, at ``order=5``.  Nine model tables, ALL
    successive group-bys of the 5-gram TYPE table (scale with distinct
    types, which saturate, not occurrences); one occurrence-side hash
    join. New in r13."""
    from cassandra_fs_pp_spark.functions.text import kn_perplexity

    return kn_perplexity(_t(spark, sf_dir, "documents"), order=5)


TEXT_KN5_PERPLEXITY_ORACLE = r"""
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents),
fg AS (
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3,
         ws[i + 3] AS w4, ws[i + 4] AS w5
  FROM tok, UNNEST(generate_series(1, len(ws) - 4)) AS u(i)
  WHERE len(ws) >= 5),
t5 AS (
  SELECT w1, w2, w3, w4, w5, CAST(count(*) AS BIGINT) AS c5
  FROM fg GROUP BY 1, 2, 3, 4, 5),
ctx1234 AS (
  SELECT w1, w2, w3, w4, CAST(sum(c5) AS BIGINT) AS s5,
         CAST(count(*) AS BIGINT) AS n5d
  FROM t5 GROUP BY 1, 2, 3, 4),
cont2345 AS (
  SELECT w2, w3, w4, w5, CAST(count(*) AS BIGINT) AS c4
  FROM t5 GROUP BY 1, 2, 3, 4),
ctx234 AS (
  SELECT w2, w3, w4, CAST(sum(c4) AS BIGINT) AS s4,
         CAST(count(*) AS BIGINT) AS n4d
  FROM cont2345 GROUP BY 1, 2, 3),
cont345 AS (
  SELECT w3, w4, w5, CAST(count(*) AS BIGINT) AS c3
  FROM cont2345 GROUP BY 1, 2, 3),
ctx34 AS (
  SELECT w3, w4, CAST(sum(c3) AS BIGINT) AS s3,
         CAST(count(*) AS BIGINT) AS n3d
  FROM cont345 GROUP BY 1, 2),
cont45 AS (
  SELECT w4, w5, CAST(count(*) AS BIGINT) AS c2
  FROM cont345 GROUP BY 1, 2),
ctx4 AS (
  SELECT w4, CAST(sum(c2) AS BIGINT) AS s2,
         CAST(count(*) AS BIGINT) AS n2d
  FROM cont45 GROUP BY 1),
cont5 AS (
  SELECT w5, CAST(count(*) AS BIGINT) AS c1 FROM cont45 GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS t2 FROM cont45),
lp AS (
  SELECT t.w1, t.w2, t.w3, t.w4, t.w5,
         CAST(round(ln(
           (CAST(t.c5 AS DOUBLE) - 0.75) / CAST(a.s5 AS DOUBLE)
           + (0.75 * CAST(a.n5d AS DOUBLE) / CAST(a.s5 AS DOUBLE))
             * ((CAST(b.c4 AS DOUBLE) - 0.75) / CAST(c.s4 AS DOUBLE)
                + (0.75 * CAST(c.n4d AS DOUBLE) / CAST(c.s4 AS DOUBLE))
                  * ((CAST(d.c3 AS DOUBLE) - 0.75) / CAST(e.s3 AS DOUBLE)
                     + (0.75 * CAST(e.n3d AS DOUBLE) / CAST(e.s3 AS DOUBLE))
                       * ((CAST(f.c2 AS DOUBLE) - 0.75) / CAST(g.s2 AS DOUBLE)
                          + (0.75 * CAST(g.n2d AS DOUBLE)
                             / CAST(g.s2 AS DOUBLE))
                            * (CAST(h.c1 AS DOUBLE)
                               / CAST(tot.t2 AS DOUBLE)))))
         ) * 1e9) AS BIGINT) AS lp_nano
  FROM t5 t
  JOIN ctx1234 a ON a.w1 = t.w1 AND a.w2 = t.w2 AND a.w3 = t.w3
                AND a.w4 = t.w4
  JOIN cont2345 b ON b.w2 = t.w2 AND b.w3 = t.w3 AND b.w4 = t.w4
                 AND b.w5 = t.w5
  JOIN ctx234 c ON c.w2 = t.w2 AND c.w3 = t.w3 AND c.w4 = t.w4
  JOIN cont345 d ON d.w3 = t.w3 AND d.w4 = t.w4 AND d.w5 = t.w5
  JOIN ctx34 e ON e.w3 = t.w3 AND e.w4 = t.w4
  JOIN cont45 f ON f.w4 = t.w4 AND f.w5 = t.w5
  JOIN ctx4 g ON g.w4 = t.w4
  JOIN cont5 h ON h.w5 = t.w5
  CROSS JOIN tot)
SELECT fg.doc_id,
       CAST(count(*) AS BIGINT) AS n_5grams,
       CAST(-sum(lp_nano) AS BIGINT) AS nll_nano,
       round(exp((CAST(-sum(lp_nano) AS DOUBLE) / 1e9)
                 / CAST(count(*) AS DOUBLE)), 6) AS ppl
FROM fg JOIN lp ON lp.w1 = fg.w1 AND lp.w2 = fg.w2 AND lp.w3 = fg.w3
               AND lp.w4 = fg.w4 AND lp.w5 = fg.w5
GROUP BY 1
"""


def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge training (Sennrich 2016 — the canonical
    tokenizer-training step): top-8 merge rules by iterated weighted
    pair counting over the word-TYPE table. One corpus pass builds the
    vocabulary and collects it; each round is an integer pair count and
    an argmax over the type table on the driver, with no Spark job — the
    corpus is never rescanned. Paren-encoded symbol strings
    make plain ``replace`` reproduce BPE's greedy left-to-right
    non-overlapping merge identically in both engines. New in r13."""
    from cassandra_fs_pp_spark.functions.text import bpe_train_merges

    return bpe_train_merges(_t(spark, sf_dir, "documents"), merges=8)


def _bpe_oracle_sql(merges: int = 8) -> str:
    """Unrolled replay of ``text_bpe_merges``: per round, a pair-count
    CTE, a 1-row argmax (count DESC, lhs, rhs — same tie rule as the
    engine's orderBy/limit), and a vocab rewrite via the identical
    literal ``replace`` on the paren encoding. If a round finds no
    pairs both sides emit no further rows (the engine breaks; here the
    empty argmax empties every later vocab).  The vocab CTEs are
    MATERIALIZED: each is referenced by both the next round's pair
    count and the next rewrite, and DuckDB's default inlining
    re-evaluates the whole chain per reference (measured 7.0 s -> 0.4 s
    at sf0.01 with the hint)."""
    head = r"""
WITH vocab0 AS MATERIALIZED (
  SELECT '(' || array_to_string(string_split(w, ''), ')(') || ')' AS sym,
         freq
  FROM (
    SELECT w, CAST(count(*) AS BIGINT) AS freq
    FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
          FROM documents)
    WHERE w <> '' AND NOT regexp_matches(w, '[()]')
    GROUP BY w))"""
    rounds = []
    for r in range(1, merges + 1):
        rounds.append(f""",
p{r} AS (
  SELECT ss[i] AS a, ss[i + 1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
  FROM (SELECT regexp_extract_all(sym, '\\(([^)]*)\\)', 1) AS ss, freq
        FROM vocab{r - 1}),
       UNNEST(generate_series(1, len(ss) - 1)) AS u(i)
  WHERE len(ss) >= 2
  GROUP BY 1, 2),
t{r} AS (
  SELECT {r} AS round, a AS lhs, b AS rhs, a || b AS merged, cnt AS pair_count
  FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1),
vocab{r} AS MATERIALIZED (
  SELECT replace(v.sym, '(' || t.lhs || ')(' || t.rhs || ')',
                 '(' || t.merged || ')') AS sym, v.freq
  FROM vocab{r - 1} v CROSS JOIN t{r} t)""")
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM t{r}" for r in range(1, merges + 1)
    )
    return (
        head
        + "".join(rounds)
        + f"""
SELECT CAST(round AS INT) AS round, lhs, rhs, merged, pair_count
FROM ({union})
"""
    )


TEXT_BPE_MERGES_ORACLE = _bpe_oracle_sql()


def text_bpe_merges_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BPE merge training (VERDICT r14 item 5 — the trainer
    depth wall): up to 16 symbol-disjoint merge rules learned per
    counting round (4 rounds here, 128-candidate pool), so vocabulary
    depth costs rounds ~ merges/batch pair counts (on the driver, over
    the collected type table) instead of one per rule. r16 (VERDICT r15
    item 3): selection is the GREEDY
    maximal disjoint set over the top-``topk`` candidates — scan in
    rank order, select iff symbol-disjoint from every already-SELECTED
    pair — which fills the batch whenever enough disjoint hot pairs
    exist (the r15 any-higher-ranked-candidate rule capped fill at
    ~4-6/round) with the same exactness argument: disjointness among
    SELECTED pairs is the only property the count-invariance proof
    uses. text_bpe_merges is this same training loop at batch=1,
    topk=1 (the plain argmax; pytest pins it against a pure-Python
    sequential BPE). r17 (VERDICT r16 item 4): the candidate
    pool is symbol-diversified — a pair enters only if its rank within
    its left-symbol AND right-symbol groups is <= sym_cap=4, so one
    hot symbol occupies at most 8 of the 128 pool slots instead of
    flooding the pool with pairs greedy can't co-select (the ~16
    rules/round fill plateau); selection exactness is untouched
    (disjointness among SELECTED pairs is the only property the proof
    uses). Oracle replays each round as pair-count + the two
    per-symbol rank windows + windowed top-128 + a list_reduce
    greedy-selection fold + a list_reduce replace chain."""
    from cassandra_fs_pp_spark.functions.text import bpe_train_merges_batched

    return bpe_train_merges_batched(
        _t(spark, sf_dir, "documents"), rounds=4, batch=16, topk=128,
        sym_cap=4,
    )


def _bpe_batched_oracle_sql(
    rounds: int = 4,
    batch: int = 8,
    topk: int | None = None,
    sym_cap: int | None = None,
) -> str:
    """Unrolled replay of ``bpe_train_merges_batched``: per round, the
    same pair-count CTE as ``_bpe_oracle_sql``, a windowed
    top-``topk`` candidate table (count DESC, lhs, rhs), the GREEDY
    maximal-disjoint selection (r16, VERDICT r15 item 3: scan
    candidates in rank order, select iff symbol-disjoint from every
    already-selected pair, stop at ``batch``) replayed as a
    ``list_reduce`` fold whose accumulator is the selected list, and a
    vocab rewrite applying the selected rules in rank order via a
    second ``list_reduce`` (empty rule list = identity, matching the
    engine's break-on-no-pairs).  ``sym_cap`` (r17, VERDICT r16
    item 4) mirrors the engine's symbol-diversity pool: a pair enters
    the pool only if its rank within its left-symbol group AND its
    right-symbol group (same (count DESC, lhs, rhs) order) is
    <= ``sym_cap``; the global rank is then computed over the capped
    pool."""
    head = r"""
WITH vocab0 AS MATERIALIZED (
  SELECT '(' || array_to_string(string_split(w, ''), ')(') || ')' AS sym,
         freq
  FROM (
    SELECT w, CAST(count(*) AS BIGINT) AS freq
    FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
          FROM documents)
    WHERE w <> '' AND NOT regexp_matches(w, '[()]')
    GROUP BY w))"""
    if sym_cap is not None:
        pool = (
            "(SELECT a, b, cnt FROM ("
            "SELECT a, b, cnt,"
            " row_number() OVER (PARTITION BY a ORDER BY cnt DESC, a, b)"
            " AS ra,"
            " row_number() OVER (PARTITION BY b ORDER BY cnt DESC, a, b)"
            " AS rb"
            " FROM p{r})"
            f" WHERE ra <= {int(sym_cap)} AND rb <= {int(sym_cap)})"
        )
    else:
        pool = "p{r}"
    parts = []
    for r in range(1, int(rounds) + 1):
        parts.append(f""",
p{r} AS (
  SELECT ss[i] AS a, ss[i + 1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
  FROM (SELECT regexp_extract_all(sym, '\\(([^)]*)\\)', 1) AS ss, freq
        FROM vocab{r - 1}),
       UNNEST(generate_series(1, len(ss) - 1)) AS u(i)
  WHERE len(ss) >= 2
  GROUP BY 1, 2),
top{r} AS MATERIALIZED (
  SELECT a, b, cnt, rnk FROM (
    SELECT a, b, cnt,
           row_number() OVER (ORDER BY cnt DESC, a, b) AS rnk
    FROM {pool.format(r=r)})
  WHERE rnk <= {int(topk if topk is not None else 8 * batch)}),
sel{r} AS MATERIALIZED (
  -- greedy maximal-disjoint scan as a list_reduce fold over rank order.
  -- The accumulator is ONE string 'syms<US>rest' (chr(3) separator):
  -- syms = chr(1)-flanked selected symbols, rest = chr(2)-joined
  -- selected records. A pure-string fold because DuckDB v1.0
  -- mis-evaluates a lambda nested inside list_reduce's lambda
  -- (list_filter over acc dropped earlier selections — measured), and
  -- flanked-containment equals exact symbol equality because symbols
  -- cannot contain chr(1)/chr(2)/chr(3) (the same assumption the
  -- vocab-rewrite fold already makes).
  SELECT {r} AS round, CAST(split_part(x, chr(1), 1) AS INT) AS rnk,
         split_part(x, chr(1), 2) AS lhs,
         split_part(x, chr(1), 3) AS rhs,
         split_part(x, chr(1), 2) || split_part(x, chr(1), 3) AS merged,
         CAST(split_part(x, chr(1), 4) AS BIGINT) AS pair_count
  FROM (SELECT list_reduce(
          list_prepend(chr(3),
            COALESCE((SELECT list(CAST(rnk AS VARCHAR) || chr(1) || a
                                  || chr(1) || b || chr(1)
                                  || CAST(cnt AS VARCHAR)
                                 ORDER BY rnk)
                      FROM top{r}), [])),
          (acc, x) -> CASE
            WHEN len(string_split(split_part(acc, chr(3), 2), chr(2)))
                   > {int(batch)}
              OR contains(split_part(acc, chr(3), 1),
                          chr(1) || split_part(x, chr(1), 2) || chr(1))
              OR contains(split_part(acc, chr(3), 1),
                          chr(1) || split_part(x, chr(1), 3) || chr(1))
            THEN acc
            ELSE split_part(acc, chr(3), 1) || chr(1)
                 || split_part(x, chr(1), 2) || chr(1)
                 || split_part(x, chr(1), 3) || chr(1) || chr(3)
                 || split_part(acc, chr(3), 2) || chr(2) || x
            END) AS g),
       UNNEST(string_split(split_part(g, chr(3), 2), chr(2))) AS t(x)
  WHERE x <> ''),
vocab{r} AS MATERIALIZED (
  SELECT list_reduce(
           list_prepend(v.sym,
             (SELECT COALESCE(list(lhs || chr(1) || rhs ORDER BY rnk), [])
              FROM sel{r})),
           (acc, x) -> replace(acc,
             '(' || split_part(x, chr(1), 1) || ')('
                 || split_part(x, chr(1), 2) || ')',
             '(' || split_part(x, chr(1), 1)
                 || split_part(x, chr(1), 2) || ')')) AS sym,
         v.freq
  FROM vocab{r - 1} v)""")
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM sel{r}" for r in range(1, int(rounds) + 1)
    )
    return (
        head
        + "".join(parts)
        + f"""
SELECT CAST(round AS INT) AS round, rnk, lhs, rhs, merged, pair_count
FROM ({union})
"""
    )


TEXT_BPE_MERGES_BATCHED_ORACLE = _bpe_batched_oracle_sql(
    rounds=4, batch=16, topk=128, sym_cap=4
)


def curation_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): hashed n-gram importance
    resampling — per-bucket add-1-smoothed log ratio of target
    (src0/src1) vs raw occurrence counts in nano-nats, per-doc integer
    importance sums, global top-500 by (importance desc, doc_id).
    Exact-integer λ table bounded by 512 buckets, broadcast; one
    feature explode; TakeOrdered top-k. New in r13; r14 lifts the
    features from unigrams to the paper's hashed unigrams+bigrams
    (VERDICT r13 item 6)."""
    from cassandra_fs_pp_spark.functions.curation import dsir_select

    return dsir_select(_t(spark, sf_dir, "documents"))


CURATION_DSIR_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     w -> w <> '') AS t
  FROM documents),
feats AS (
  SELECT doc_id, source, unnest(t) AS w FROM toks
  UNION ALL
  SELECT doc_id, source, t[i] || ' ' || t[i + 1] AS w
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2),
ex AS (
  SELECT doc_id, source IN ('src0', 'src1') AS is_t,
         ('0x' || substr(md5(w), 1, 15))::BIGINT % 512 AS bucket
  FROM feats),
cnt AS (
  SELECT bucket,
         CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
         CAST(sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS n_r
  FROM ex GROUP BY 1),
tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS t, CAST(sum(n_r) AS BIGINT) AS r
        FROM cnt),
lam AS (
  SELECT bucket,
         CAST(round(ln(CAST((n_t + 1) * (tot.r + 512) AS DOUBLE)
                       / CAST((n_r + 1) * (tot.t + 512) AS DOUBLE)) * 1e9)
              AS BIGINT) AS lam_nano
  FROM cnt CROSS JOIN tot),
scored AS (
  SELECT ex.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         CAST(sum(lam_nano) AS BIGINT) AS logw_nano
  FROM ex JOIN lam USING (bucket)
  GROUP BY 1)
SELECT doc_id, n_tok, logw_nano,
       CAST(logw_nano AS DOUBLE) / 1e9 AS logw
FROM scored
ORDER BY logw_nano DESC, doc_id
LIMIT 500
"""


def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving half of the BPE story: apply the 8 learned merge rules to
    every document and report per-doc token statistics (words, chars,
    BPE tokens, chars/token compression) — the number a training-data
    pipeline budgets by. Application is ONE narrow corpus projection
    (literal replace chain inside a transform lambda); training is the
    bounded type-table loop. New in r13."""
    from cassandra_fs_pp_spark.functions.text import bpe_tokenize_counts

    return bpe_tokenize_counts(_t(spark, sf_dir, "documents"), merges=8)


def _bpe_tokenize_oracle_sql(merges: int = 8) -> str:
    """Training replay (same CTE ladder as ``_bpe_oracle_sql``) + the
    identical literal replace chain applied per word, summed per doc.
    The final SELECT drives from ``documents`` with a LEFT JOIN
    (ADVICE r16): the engine emits a (0, 0, 0, NULL) row for a
    whitespace-only document, so the oracle must not let the per-WORD
    grouping silently drop it."""
    train = _bpe_oracle_sql(merges)
    head, _tail = train.rsplit("\nSELECT CAST(round AS INT) AS round", 1)
    enc = "'(' || array_to_string(string_split(t.w, ''), ')(') || ')'"
    for r in range(1, merges + 1):
        enc = (
            f"replace({enc}, '(' || t{r}.lhs || ')(' || t{r}.rhs || ')',"
            f" '(' || t{r}.merged || ')')"
        )
    crosses = " CROSS JOIN ".join(f"t{r}" for r in range(1, merges + 1))
    return (
        head
        + f""",
wtok AS (
  SELECT doc_id, w
  FROM (SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents)
  WHERE w <> ''),
per_word AS (
  SELECT t.doc_id,
         length(t.w) AS n_chars,
         CASE WHEN regexp_matches(t.w, '[()]') THEN CAST(1 AS BIGINT)
              ELSE CAST(len(regexp_extract_all({enc},
                   '\\(([^)]*)\\)', 1)) AS BIGINT) END AS n_tok
  FROM wtok t CROSS JOIN {crosses}),
perdoc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(n_chars) AS BIGINT) AS n_chars,
         CAST(sum(n_tok) AS BIGINT) AS n_bpe_tokens
  FROM per_word GROUP BY 1)
SELECT d.doc_id,
       COALESCE(a.n_words, CAST(0 AS BIGINT)) AS n_words,
       COALESCE(a.n_chars, CAST(0 AS BIGINT)) AS n_chars,
       COALESCE(a.n_bpe_tokens, CAST(0 AS BIGINT)) AS n_bpe_tokens,
       CASE WHEN a.n_bpe_tokens > 0
            THEN round(CAST(a.n_chars AS DOUBLE)
                       / CAST(a.n_bpe_tokens AS DOUBLE), 6) END
         AS compression
FROM documents d LEFT JOIN perdoc a USING (doc_id)
"""
    )


TEXT_BPE_TOKENIZE_ORACLE = _bpe_tokenize_oracle_sql()


def text_bpe_tokenize_trie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-depth BPE application (r14, VERDICT r13 item 5):
    identical semantics to ``text_bpe_tokenize`` but the merge rules
    live in a rank table applied inside ONE Arrow-batched mapInPandas
    over the word-TYPE table — merge depth is a closure constant, not
    an expression tree, so a real 32k vocabulary doesn't explode the
    plan. Both tokenizers take their rules from the one BPE training
    loop at batch=1 (the ``text_bpe_merges`` rules) and share the
    replace-chain's full oracle verbatim (same rules, same greedy
    left-to-right merge); the differential pytest pins
    value equality at any depth and the SCALE.md probe runs it at
    merges=1024 where the replace-chain cannot compile."""
    from cassandra_fs_pp_spark.functions.text import bpe_tokenize_counts_trie

    return bpe_tokenize_counts_trie(_t(spark, sf_dir, "documents"), merges=8)


def text_bpe_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END tokenizer pipeline (r16 late): train the greedy
    maximal-disjoint batched BPE table (4 rounds × batch 16 over a
    128-candidate pool — the r16 trainer) and apply it with the
    production rank-table tokenizer (`bpe_tokenize_counts_trie`,
    Arrow-batched mapInPandas over the word-TYPE table) in ONE query —
    the tokenizer twin of the curation flagship's train+serve
    composition. Emits per-doc (n_words, n_chars, n_bpe_tokens,
    compression). The trained rule table crosses the driver once
    (≤ rounds×batch rows, the codebook pattern); the oracle replays
    training via the batched CTE ladder and application as a
    list_reduce replace fold over DISTINCT word types joined back to
    occurrences (mirroring the engine's type-table shape)."""
    from cassandra_fs_pp_spark.functions.text import (
        _bpe_train_merges_batched_rules,
        bpe_tokenize_counts_trie,
    )

    docs = _t(spark, sf_dir, "documents")
    # the list helper returns rows already in (round, rnk) order — the
    # former createDataFrame -> orderBy -> collect round-trip launched a
    # defaultParallelism-wide pickled-row job for <= rounds*batch
    # driver-resident rows (r17)
    rules = [
        (lhs, rhs, merged)
        for _rnd, _rnk, lhs, rhs, merged, _cnt in sorted(
            _bpe_train_merges_batched_rules(
                docs, rounds=4, batch=16, topk=128, sym_cap=4
            ),
            key=lambda r: (r[0], r[1]),
        )
    ]
    return bpe_tokenize_counts_trie(docs, rules=rules)


def _bpe_pipeline_oracle_sql(
    rounds: int = 4,
    batch: int = 16,
    topk: int = 128,
    sym_cap: int | None = 4,
) -> str:
    """Training replay (the batched greedy CTE ladder) + rank-table
    application: the learned rules fold over each DISTINCT word type as
    a chain of replaces (single-level list_reduce — the proven vocab-
    rewrite pattern), then types join back to word occurrences. The
    final SELECT drives from ``documents`` with a LEFT JOIN (ADVICE
    r16): the engine emits a (0, 0, 0, NULL) row for a whitespace-only
    document, so the per-word grouping must not drop it."""
    train = _bpe_batched_oracle_sql(rounds, batch, topk, sym_cap)
    head, _tail = train.rsplit("\nSELECT CAST(round AS INT) AS round", 1)
    union = " UNION ALL ".join(
        f"SELECT * FROM sel{r}" for r in range(1, int(rounds) + 1)
    )
    return head + rf""",
rl AS (
  SELECT COALESCE(list(lhs || chr(1) || rhs || chr(1) || merged
                       ORDER BY round, rnk), []) AS rules
  FROM ({union})),
wtok AS (
  SELECT doc_id, w
  FROM (SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        FROM documents)
  WHERE w <> ''),
wtypes AS (
  SELECT w,
         CASE WHEN regexp_matches(w, '[()]') THEN CAST(1 AS BIGINT)
              ELSE CAST(len(regexp_extract_all(
                list_reduce(
                  list_prepend(
                    '(' || array_to_string(string_split(w, ''), ')(')
                        || ')',
                    (SELECT rules FROM rl)),
                  (acc, x) -> replace(acc,
                    '(' || split_part(x, chr(1), 1) || ')('
                        || split_part(x, chr(1), 2) || ')',
                    '(' || split_part(x, chr(1), 3) || ')')),
                '\(([^)]*)\)', 1)) AS BIGINT) END AS n_tok
  FROM (SELECT DISTINCT w FROM wtok)),
perdoc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(length(t.w)) AS BIGINT) AS n_chars,
         CAST(sum(y.n_tok) AS BIGINT) AS n_bpe_tokens
  FROM wtok t JOIN wtypes y USING (w)
  GROUP BY 1)
SELECT d.doc_id,
       COALESCE(a.n_words, CAST(0 AS BIGINT)) AS n_words,
       COALESCE(a.n_chars, CAST(0 AS BIGINT)) AS n_chars,
       COALESCE(a.n_bpe_tokens, CAST(0 AS BIGINT)) AS n_bpe_tokens,
       CASE WHEN a.n_bpe_tokens > 0
            THEN round(CAST(a.n_chars AS DOUBLE)
                       / CAST(a.n_bpe_tokens AS DOUBLE), 6) END
         AS compression
FROM documents d LEFT JOIN perdoc a USING (doc_id)
"""


TEXT_BPE_PIPELINE_ORACLE = _bpe_pipeline_oracle_sql()


def curation_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail tiers: per-source ntile(3) over the KN
    bigram perplexity — the per-domain quality calibration step (an
    absolute threshold would judge every domain by the head domain's
    fluency). Deterministic ntile order (ppl, doc_id), so the bucket
    assignment replays exactly in SQL. New in r11."""
    from cassandra_fs_pp_spark.functions.curation import ccnet_buckets

    return ccnet_buckets(_t(spark, sf_dir, "documents"))


# the shared KN CTE prefix plus the per-source ntile — order (ppl,
# doc_id) mirrors the Spark window exactly
CURATION_CCNET_ORACLE = _KN_CTE_SQL.rstrip() + r""",
scored AS (
  SELECT bg.doc_id,
         round(exp((CAST(-sum(lp_nano) AS DOUBLE) / 1e9)
                   / CAST(count(*) AS DOUBLE)), 6) AS ppl
  FROM bg JOIN lp ON lp.w1 = bg.w1 AND lp.w2 = bg.w2
  GROUP BY 1),
tiered AS (
  SELECT s.doc_id, d.source, s.ppl,
         CAST(ntile(3) OVER (
           PARTITION BY d.source ORDER BY s.ppl, s.doc_id) AS INT) AS bucket
  FROM scored s JOIN documents d USING (doc_id))
SELECT doc_id, source, ppl, bucket,
       CASE bucket WHEN 1 THEN 'head' WHEN 3 THEN 'tail'
            ELSE 'middle' END AS tier
FROM tiered
"""


def curation_ccnet_buckets_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-valve twin of ``curation_ccnet_buckets`` (VERDICT r11 item
    3): per-source tercile CUTOFFS from a banded perplexity histogram
    (window input = the histogram, bounded by the 2dp value grid, not
    the cohort) + a stateless broadcast band join — no monolithic
    per-source sort, so a CCNet-scale head language (half the corpus in
    one cohort) costs one hash aggregation instead of one task. New in
    r12."""
    from cassandra_fs_pp_spark.functions.curation import ccnet_buckets_banded

    return ccnet_buckets_banded(_t(spark, sf_dir, "documents"))


# same KN CTE prefix; banded tercile cutoffs via integer ranks over the
# per-source 2dp histogram, then a value band join — mirrors
# ccnet_buckets_banded exactly (floor of the same IEEE double, ceil via
# integer div)
CURATION_CCNET_BANDED_ORACLE = _KN_CTE_SQL.rstrip() + r""",
scored AS (
  SELECT bg.doc_id,
         round(exp((CAST(-sum(lp_nano) AS DOUBLE) / 1e9)
                   / CAST(count(*) AS DOUBLE)), 6) AS ppl
  FROM bg JOIN lp ON lp.w1 = bg.w1 AND lp.w2 = bg.w2
  GROUP BY 1),
d AS (
  SELECT s.doc_id, doc.source, s.ppl,
         CAST(floor(s.ppl * 100) AS BIGINT) AS band
  FROM scored s JOIN documents doc USING (doc_id)),
hist AS (
  SELECT source, band, count(*) AS cnt FROM d GROUP BY 1, 2),
cum AS (
  SELECT source, band,
         sum(cnt) OVER (PARTITION BY source ORDER BY band) AS cum,
         sum(cnt) OVER (PARTITION BY source) AS n
  FROM hist),
cuts AS (
  SELECT source,
         min(CASE WHEN cum >= (n + 2) // 3 THEN band END) AS c1,
         min(CASE WHEN cum >= (2 * n + 2) // 3 THEN band END) AS c2
  FROM cum GROUP BY 1)
SELECT d.doc_id, d.source, d.ppl, d.band,
       CAST(CASE WHEN d.band <= cuts.c1 THEN 1
                 WHEN d.band <= cuts.c2 THEN 2 ELSE 3 END AS INT) AS bucket,
       CASE WHEN d.band <= cuts.c1 THEN 'head'
            WHEN d.band <= cuts.c2 THEN 'middle' ELSE 'tail' END AS tier
FROM d JOIN cuts USING (source)
"""


def curation_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch upsampling (the LLaMA-recipe mixing step): a
    per-source repeat factor f means every doc appears floor(f) times
    plus once more for a hash-selected frac(f) share — in expectation
    exactly f epochs, with NO RNG (md5 threshold, reproducible at any
    parallelism).  Factor = 1.0 + 0.7 * (source_num % 4) over the
    src0..src19 corpus -> {1.0, 1.7, 2.4, 3.1} epochs.  Explode-by-
    sequence: one narrow generator, no joins; (doc_id, copy_idx) rows
    give downstream packing distinct rows per epoch."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    srcnum = F.regexp_extract("source", r"(\d+)", 1).cast("int")
    factor = F.lit(1.0) + F.lit(0.7) * (srcnum % 4).cast("double")
    base = F.floor(factor).cast("int")
    frac = factor - F.floor(factor)
    # hash-uniform u in [0, 1): first 15 md5 hex digits / 16^15
    u = F.conv(
        F.substring(F.md5(F.concat(F.lit("ep"), F.col("doc_id").cast("string"))), 1, 15),
        16, 10,
    ).cast("double") / F.lit(float(16 ** 15))
    n_copies = (base + F.when(u < frac, 1).otherwise(0)).alias("n_copies")
    with_n = docs.select("doc_id", "source", n_copies)
    return with_n.select(
        "doc_id",
        "source",
        "n_copies",
        F.explode(
            F.when(
                F.col("n_copies") >= 1,
                F.expr("sequence(1, n_copies)"),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("copy_idx"),
    )


CURATION_EPOCH_ORACLE = """
WITH f AS (
  SELECT doc_id, source,
         1.0 + 0.7 * CAST(CAST(regexp_extract(source, '(\\d+)', 1) AS INT) % 4
                          AS DOUBLE) AS factor,
         ('0x' || substr(md5('ep' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           / CAST(16::HUGEINT ** 15 AS DOUBLE) AS u
  FROM documents),
n AS (
  SELECT doc_id, source,
         CAST(floor(factor) + CASE WHEN u < factor - floor(factor)
                                   THEN 1 ELSE 0 END AS INT) AS n_copies
  FROM f)
SELECT doc_id, source, n_copies, CAST(unnest(range(1, n_copies + 1)) AS INT)
         AS copy_idx
FROM n WHERE n_copies >= 1
"""


def a_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-strength score per event type: 1 − var(residual) /
    var(value) where the seasonal component is the hour-of-day mean —
    the variance-explained screen before committing to a seasonal
    model.  Integer-safe: variances computed from exact cent sums
    (sum/sumsq/count), one final division per group."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.round(F.col("value") * 100).cast("long")
    base = ev.select(
        "event_type", F.hour("ts").alias("hh"), cents.alias("c")
    )
    hw = Window.partitionBy("event_type", "hh")
    tw = Window.partitionBy("event_type")
    # residual in exact cents scaled by the hour-group count: r = c*n - s
    # keeps everything integer (var of scaled residual / n^2 later)
    scored = base.select(
        "event_type",
        "c",
        F.count(F.lit(1)).over(hw).alias("hn"),
        F.sum("c").over(hw).alias("hs"),
    )
    # var(value) and var(resid) via exact integer sums; resid = c - hs/hn
    # -> use rationals: resid*hn = c*hn - hs (integer)
    agg = scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("sc"),
        F.sum(F.col("c") * F.col("c")).alias("scc"),
        # cast the scaled residual to double BEFORE squaring: c*hn - hs is
        # exact in int64, but its square overflows int64 once an
        # (event_type, hour) group passes ~5e4 rows at cent scale —
        # Spark (non-ANSI) would wrap silently while DuckDB raises.
        F.sum(
            (F.col("c") * F.col("hn") - F.col("hs")).cast("double")
            * (F.col("c") * F.col("hn") - F.col("hs")).cast("double")
            / (F.col("hn") * F.col("hn"))
        ).alias("srr"),
    )
    var_tot = (
        F.col("scc").cast("double") / F.col("n")
        - (F.col("sc").cast("double") / F.col("n"))
        * (F.col("sc").cast("double") / F.col("n"))
    )
    return agg.select(
        "event_type",
        "n",
        F.round(F.lit(1.0) - (F.col("srr") / F.col("n")) / var_tot, 6).alias(
            "seasonality_strength"
        ),
    )


A_SEASONALITY_ORACLE = """
WITH base AS (
  SELECT event_type, CAST(hour(ts) AS INT) AS hh,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL),
s AS (
  SELECT event_type, c,
         CAST(count(*) OVER (PARTITION BY event_type, hh) AS BIGINT) AS hn,
         CAST(sum(c) OVER (PARTITION BY event_type, hh) AS BIGINT) AS hs
  FROM base),
a AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS sc,
         CAST(sum(c * c) AS BIGINT) AS scc,
         sum(CAST(c * hn - hs AS DOUBLE) * CAST(c * hn - hs AS DOUBLE)
             / (hn * hn)) AS srr
  FROM s GROUP BY event_type)
SELECT event_type, n,
       round(1.0 - (srr / n)
             / (CAST(scc AS DOUBLE) / n
                - (CAST(sc AS DOUBLE) / n) * (CAST(sc AS DOUBLE) / n)), 6)
         AS seasonality_strength
FROM a
"""


def curation_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix rebalancing: per-source token share vs a uniform target
    proportion; the per-source sampling rate ``min(1, target/share)`` is
    what a mixer applies to hit the recipe. One aggregation + a 1-row
    broadcast total — counts stay integer until the final divisions."""
    docs = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    per_src = docs.select("source", n_tok.alias("__n")).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__n").alias("toks"),
    )
    total = per_src.agg(F.sum("toks").alias("__total"))
    share = F.col("toks").cast("double") / F.col("__total").cast("double")
    return per_src.join(F.broadcast(total)).select(
        "source",
        "n_docs",
        "toks",
        share.alias("share"),
        F.least(F.lit(1.0), F.lit(0.05) / share).alias("sample_rate"),
    )


CURATION_DOMAIN_MIX_ORACLE = r"""
WITH tok AS (
  SELECT source,
         len(string_split_regex(lower(trim(text)), '\s+')) AS n
  FROM documents),
agg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n) AS BIGINT) AS toks
  FROM tok GROUP BY source),
tot AS (SELECT CAST(sum(toks) AS DOUBLE) AS total FROM agg)
SELECT source, n_docs, toks,
       CAST(toks AS DOUBLE) / total AS share,
       least(CAST(1 AS DOUBLE),
             CAST(0.05 AS DOUBLE) / (CAST(toks AS DOUBLE) / total))
         AS sample_rate
FROM agg, tot
"""


def stream_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a_sessionize's streaming twin: native session_window keeps one open
    window per user, the watermark closes and frees state; availableNow
    drain in complete mode reproduces the batch islands."""
    from cassandra_fs_pp_spark.streaming.filestream import session_window_stream

    tune(spark)
    stream = stream_table(spark, sf_dir, "events")
    out = run_available_now(
        session_window_stream(stream), output_mode="complete"
    )
    return out.select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        "n_events",
        "sum_value",
    )


STREAM_SESSION_ORACLE = """
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
), g AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sess
  FROM o
)
SELECT user_id, min(ts) AS session_start,
       count(*) AS n_events, round(sum(value), 3) AS sum_value
FROM g GROUP BY user_id, sess
"""


def j_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key join with deterministic salting: event_type is a 5-value
    (maximally hot) key, so a plain shuffle join lands each type on one
    task. salted_join scatters the big side over (key, salt) sub-keys and
    explodes the tiny dim by salt — identical result set to the plain
    join (the oracle), straggler-free physical distribution."""
    from cassandra_fs_pp_spark.operators.skew import salted_join

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dim = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("type_n"))
    )
    joined = salted_join(ev, dim, ["event_type"], salt_n=8)
    return joined.groupBy("event_type", "type_n").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


J_SKEW_ORACLE = """
WITH dim AS (
  SELECT event_type, count(*) AS type_n FROM events GROUP BY event_type
)
SELECT e.event_type, d.type_n, count(*) AS n,
       round(sum(e.value), 2) AS sum_value
FROM events e JOIN dim d USING (event_type)
GROUP BY e.event_type, d.type_n
"""


def j_bloom_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi join (operators/joins.py ``bloom_semi_join``):
    lineitem ⋉ urgent orders, then per-returnflag revenue.  The bloom is
    an aggregated 8 KiB bitmap broadcast as one row; lineitem rows failing
    the k=3 membership probes never reach the semi join's Exchange.  The
    result is EXACT (the hash semi-join removes bloom false positives),
    so the oracle is a plain IN-subquery aggregate."""
    from cassandra_fs_pp_spark.operators.joins import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem")
    urgent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    price = F.col("l_extendedprice").cast("decimal(14,2)")
    disc = F.col("l_discount").cast("decimal(8,4)")
    return (
        bloom_semi_join(li, urgent, "l_orderkey", "o_orderkey")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(price * (1 - disc)), 2)
            .cast("double")
            .alias("revenue"),
        )
    )


J_BLOOM_SEMI_ORACLE = """
SELECT l_returnflag,
       count(*) AS n_items,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2))
            * (1 - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
GROUP BY l_returnflag
"""


def op_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension build from a change log: per (user, event_type)
    stream of values, collapse consecutive duplicates (lag), then derive
    validity intervals (valid_from = change ts, valid_to = next change ts,
    NULL while current). Two narrow windows on the natural key — the
    standard slowly-changing-dimension materialization at any scale."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_value", F.lag("value").over(w))
        .filter(
            F.col("prev_value").isNull()
            | (F.col("value") != F.col("prev_value"))
        )
    )
    w2 = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        "value",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
        (F.lead("ts").over(w2).isNull()).alias("is_current"),
    )


SCD2_ORACLE = """
WITH c AS (
  SELECT user_id, event_type, value, ts, event_id,
         lag(value) OVER (PARTITION BY user_id, event_type
                          ORDER BY ts, event_id) AS prev_value
  FROM events WHERE user_id < 20
), changes AS (
  SELECT * FROM c WHERE prev_value IS NULL OR value <> prev_value
)
SELECT user_id, event_type, value, ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       (lead(ts) OVER w IS NULL) AS is_current
FROM changes
WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
"""


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: type-token ratio and
    the most-frequent-token share. One explode + two keyed aggs — the doc
    id stays the shuffle key, so repetition scoring is a linear pass at
    corpus scale."""
    from cassandra_fs_pp_spark.functions.text import whitespace_tokens

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("w")
    )
    counts = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    return counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.round(F.count(F.lit(1)) / F.sum("c"), 8).alias("distinct_ratio"),
        F.round(F.max("c") / F.sum("c"), 8).alias("top_token_share"),
    )


TEXT_REPETITION_ORACLE = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
  FROM documents
), c AS (
  SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w
)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       round(count(*) / CAST(sum(c) AS DOUBLE), 8) AS distinct_ratio,
       round(max(c) / CAST(sum(c) AS DOUBLE), 8) AS top_token_share
FROM c GROUP BY doc_id
"""


def text_hash_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurizer: 32-bucket term-frequency vectors in long
    form (doc_id, bucket, tf) — the bag-of-words input a downstream
    trainer consumes. Long form keeps the agg map-side combinable; the
    md5-backed hash60 bucket is engine-portable (oracle-exact)."""
    from cassandra_fs_pp_spark.functions.text import hash60, whitespace_tokens

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    tok = docs.select(
        "doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("w")
    )
    return (
        tok.select(
            "doc_id", F.pmod(hash60(F.col("w")), F.lit(32)).alias("bucket")
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


TEXT_HASH_FEATURES_ORACLE = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
  FROM documents WHERE doc_id < 200
)
SELECT doc_id,
       ('0x' || substr(md5(w), 1, 15))::BIGINT % 32 AS bucket,
       CAST(count(*) AS BIGINT) AS tf
FROM tok GROUP BY doc_id, bucket
"""


def a_corr_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics family per group: Pearson correlation, sample
    covariance/stddev, and OLS slope of extendedprice on quantity — all
    single-pass co-moment aggregates (map-side combinable). Rounded past
    the double-accumulation noise floor for cross-engine equality."""
    li = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("double")
    p = F.col("l_extendedprice").cast("double")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.corr(q, p), 6).alias("corr_qty_price"),
        F.round(F.covar_samp(q, p) / 1000, 4).alias("covar_k"),
        F.round(F.stddev_samp(q), 4).alias("sd_qty"),
        F.round(F.regr_slope(p, q), 4).alias("slope_price_qty"),
    )


A_CORR_ORACLE = """
SELECT l_returnflag, count(*) AS n,
       round(corr(CAST(l_quantity AS DOUBLE),
                  CAST(l_extendedprice AS DOUBLE)), 6) AS corr_qty_price,
       round(covar_samp(CAST(l_quantity AS DOUBLE),
                        CAST(l_extendedprice AS DOUBLE)) / 1000, 4) AS covar_k,
       round(stddev_samp(CAST(l_quantity AS DOUBLE)), 4) AS sd_qty,
       round(regr_slope(CAST(l_extendedprice AS DOUBLE),
                        CAST(l_quantity AS DOUBLE)), 4) AS slope_price_qty
FROM lineitem GROUP BY l_returnflag
"""


def j4_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: for each click, the EARLIEST error at/after it per
    user (the reference's install-date lookup shape, fs_pp.py:621-625).
    Same sort-based union plan as backward — one shuffle on the by-key."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("value").alias("err_value")
    )
    return asof_join(
        clicks,
        errors,
        on="ts",
        by=["user_id"],
        value_cols=["err_value"],
        direction="forward",
    )


J4_FWD_ORACLE = """
SELECT l.event_id, l.user_id, l.ts, l.value, r.err_value
FROM (SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'click') l
ASOF LEFT JOIN
     (SELECT user_id, ts, value AS err_value FROM events
      WHERE event_type = 'error') r
ON l.user_id = r.user_id AND l.ts <= r.ts
"""


def f_url_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL function family over synthesized doc URLs: host / path / query
    parameter extraction and domain derivation — the curation plane's
    URL-normalization primitives (native parse_url; regexp oracle)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.org/docs/"),
        F.col("lang"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
        F.lit("?ref=crawl&page="),
        (F.col("doc_id") % 7).cast("string"),
    )
    d = docs.select("doc_id", url.alias("url"))
    return d.select(
        "doc_id",
        "url",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("page")).alias("page"),
        F.regexp_extract("url", r"^https://([^./]+)\.", 1).alias("domain"),
    )


F_URL_ORACLE = r"""
WITH d AS (
  SELECT doc_id,
         'https://' || source || '.example.org/docs/' || lang || '/'
           || CAST(doc_id AS VARCHAR) || '?ref=crawl&page='
           || CAST(doc_id % 7 AS VARCHAR) AS url
  FROM documents WHERE doc_id < 100
)
SELECT doc_id, url,
       regexp_extract(url, '^https://([^/]+)/', 1) AS host,
       regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path,
       regexp_extract(url, 'page=([^&]*)', 1) AS page,
       regexp_extract(url, '^https://([^./]+)\.', 1) AS domain
FROM d
"""


def a_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase per user: each
    stage's timestamp is the earliest event strictly after the previous
    stage. Three conditional-min aggregates over one scan each, joined on
    the user key (all map-side combinable; no window state)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t_view")
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id", "t_view")
        .agg(F.min("ts").alias("t_click"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id", "t_view", "t_click")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return s3.select(
        "user_id",
        "t_view",
        "t_click",
        "t_purchase",
        (
            F.col("t_purchase").cast("timestamp").cast("double")
            - F.col("t_view").cast("timestamp").cast("double")
        ).alias("funnel_seconds"),
    )


A_FUNNEL_ORACLE = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, s1.t_view, min(e.ts) AS t_click
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t_view
  GROUP BY e.user_id, s1.t_view
), s3 AS (
  SELECT e.user_id, s2.t_view, s2.t_click, min(e.ts) AS t_purchase
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
  GROUP BY e.user_id, s2.t_view, s2.t_click
)
SELECT user_id, t_view, t_click, t_purchase,
       CAST(epoch(t_purchase) - epoch(t_view) AS DOUBLE) AS funnel_seconds
FROM s3
"""


ATTRIB_MICROCREDIT = 1_000_000


def a_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-user recency (days since last
    event, vs the corpus max timestamp attached as a 1-row broadcast
    scalar), frequency (event count), monetary (exact integer cents —
    no float-sum hazard), each scored into quintiles via ntile(5) with
    a deterministic user_id tie-break. The quintile windows rank the
    USER DIMENSION (already reduced map-side from the event scan, so
    |users| rows, not |events|) — the same bounded-domain convention as
    the single-series parity windows; the fleet-scale valve is
    ``a_rfm_segments_banded`` (quintiles within acquisition cohort,
    benched in SCALE.md r10)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    users = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias(
            "monetary_cents"
        ),
    )
    mx = ev.agg(F.max("ts").alias("__mx"))
    base = users.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.datediff("__mx", "last_ts").cast("long").alias("recency_days"),
        "frequency",
        "monetary_cents",
    )
    r_w = Window.orderBy(F.asc("recency_days"), F.asc("user_id"))
    f_w = Window.orderBy(F.desc("frequency"), F.asc("user_id"))
    m_w = Window.orderBy(F.desc("monetary_cents"), F.asc("user_id"))
    return base.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_cents",
        F.ntile(5).over(r_w).alias("r_score"),
        F.ntile(5).over(f_w).alias("f_score"),
        F.ntile(5).over(m_w).alias("m_score"),
    )


A_RFM_ORACLE = """
WITH u AS (
  SELECT user_id, max(ts) AS last_ts,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM events WHERE value IS NOT NULL GROUP BY user_id
), mx AS (SELECT max(ts) AS m FROM events WHERE value IS NOT NULL)
SELECT user_id,
       CAST(datediff('day', last_ts, mx.m) AS BIGINT) AS recency_days,
       frequency, monetary_cents,
       CAST(ntile(5) OVER (ORDER BY datediff('day', last_ts, mx.m),
                           user_id) AS INT) AS r_score,
       CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id) AS INT)
         AS f_score,
       CAST(ntile(5) OVER (ORDER BY monetary_cents DESC, user_id) AS INT)
         AS m_score
FROM u CROSS JOIN mx
"""


def a_rfm_segments_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintiles banded by acquisition cohort — the fleet-scale
    valve for ``a_rfm_segments`` made first-class (the
    ``p_debounce_burst`` -> ``p_debounce_burst_keyed`` precedent, per
    VERDICT r9 item 2).  ``a_rfm_segments``'s three global ntile
    windows rank the reduced user dimension in ONE partition — fine at
    parity scale, a single-partition sort when the user dimension is
    itself billions of rows.  Here each quintile window partitions by
    the user's acquisition cohort (calendar month of first event) — the
    standard "RFM within cohort" segmentation, and every window input
    is one cohort's users, so the rank spreads over the cohort hash
    space and wall time stays ~flat as the fleet grows.  Scores stay
    exact: deterministic user_id tie-break inside each cohort."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    users = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias(
            "monetary_cents"
        ),
    )
    mx = ev.agg(F.max("ts").alias("__mx"))
    base = users.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.to_date(F.date_trunc("month", F.col("first_ts"))).alias(
            "cohort_month"
        ),
        F.datediff("__mx", "last_ts").cast("long").alias("recency_days"),
        "frequency",
        "monetary_cents",
    )
    r_w = Window.partitionBy("cohort_month").orderBy(
        F.asc("recency_days"), F.asc("user_id")
    )
    f_w = Window.partitionBy("cohort_month").orderBy(
        F.desc("frequency"), F.asc("user_id")
    )
    m_w = Window.partitionBy("cohort_month").orderBy(
        F.desc("monetary_cents"), F.asc("user_id")
    )
    return base.select(
        "user_id",
        "cohort_month",
        "recency_days",
        "frequency",
        "monetary_cents",
        F.ntile(5).over(r_w).alias("r_score"),
        F.ntile(5).over(f_w).alias("f_score"),
        F.ntile(5).over(m_w).alias("m_score"),
    )


A_RFM_BANDED_ORACLE = """
WITH u AS (
  SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM events WHERE value IS NOT NULL GROUP BY user_id
), mx AS (SELECT max(ts) AS m FROM events WHERE value IS NOT NULL)
SELECT user_id,
       CAST(date_trunc('month', first_ts) AS DATE) AS cohort_month,
       CAST(datediff('day', last_ts, mx.m) AS BIGINT) AS recency_days,
       frequency, monetary_cents,
       CAST(ntile(5) OVER (
              PARTITION BY date_trunc('month', first_ts)
              ORDER BY datediff('day', last_ts, mx.m), user_id)
            AS INT) AS r_score,
       CAST(ntile(5) OVER (
              PARTITION BY date_trunc('month', first_ts)
              ORDER BY frequency DESC, user_id) AS INT) AS f_score,
       CAST(ntile(5) OVER (
              PARTITION BY date_trunc('month', first_ts)
              ORDER BY monetary_cents DESC, user_id) AS INT) AS m_score
FROM u CROSS JOIN mx
"""


def ml_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — the tabular-ML feature-prep
    staple (encode a categorical key by the mean target of the OTHER
    rows sharing the key, so the feature never leaks its own row's
    label): key = (user_id, event_type), target = value in exact
    integer cents.  LOO mean = (group_cents - own_cents) / (n - 1),
    null for singleton groups.  Exactness: integer sums all the way,
    one correctly-rounded double division per row.  Scale shape: one
    map-side-combinable aggregation on the key + a key-partitioned
    window attach (the reduced key dimension never materializes on the
    driver); output is row-per-event, the shape a feature pipeline
    writes back to storage."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.round(F.col("value") * 100).cast("long")
    base = ev.select("event_id", "user_id", "event_type", cents.alias("cents"))
    wk = Window.partitionBy("user_id", "event_type")
    enc = base.select(
        "event_id",
        "user_id",
        "event_type",
        "cents",
        F.sum("cents").over(wk).alias("__g"),
        F.count(F.lit(1)).over(wk).alias("__n"),
    )
    return enc.select(
        "event_id",
        "user_id",
        "event_type",
        "cents",
        F.when(
            F.col("__n") > 1,
            (F.col("__g") - F.col("cents")).cast("double")
            / (F.col("__n") - 1).cast("double"),
        ).alias("loo_cents_mean"),
    )


ML_TARGET_LOO_ORACLE = """
WITH base AS (
  SELECT event_id, user_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
), enc AS (
  SELECT event_id, user_id, event_type, cents,
         sum(cents) OVER (PARTITION BY user_id, event_type) AS g,
         count(*) OVER (PARTITION BY user_id, event_type) AS n
  FROM base
)
SELECT event_id, user_id, event_type, cents,
       CASE WHEN n > 1
            THEN CAST(g - cents AS DOUBLE) / CAST(n - 1 AS DOUBLE)
            END AS loo_cents_mean
FROM enc
"""


def ml_target_encode_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Causal (prefix) target encoding — the leakage-safe sibling of
    ``ml_target_encode_loo`` for time-ordered data: each event is
    encoded by the mean target of STRICTLY EARLIER events in its
    (user_id, event_type) group (null for the group's first event), so
    the feature is computable at serving time with no future
    information.  One key-partitioned window with a
    ``rows between unbounded preceding and 1 preceding`` frame;
    integer cents sums, one exact division per row.  Streaming twin:
    ``stream_target_encode`` (O(1) state per key)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.round(F.col("value") * 100).cast("long")
    base = ev.select(
        "event_id", "user_id", "event_type", "ts", cents.alias("cents")
    )
    wk = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return base.select(
        "event_id",
        "user_id",
        "event_type",
        "cents",
        F.when(
            F.count(F.lit(1)).over(wk) > 0,
            F.sum("cents").over(wk).cast("double")
            / F.count(F.lit(1)).over(wk).cast("double"),
        ).alias("prefix_cents_mean"),
    )


ML_TARGET_PREFIX_ORACLE = """
WITH base AS (
  SELECT event_id, user_id, event_type, ts,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
)
SELECT event_id, user_id, event_type, cents,
       CASE WHEN count(*) OVER w > 0
            THEN CAST(sum(cents) OVER w AS DOUBLE)
                 / CAST(count(*) OVER w AS DOUBLE)
            END AS prefix_cents_mean
FROM base
WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
"""


def stream_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``ml_target_encode_prefix``: the causal prefix
    encoder as a custom stateful operator — (sum, n) per
    (user_id, event_type), two longs of state, each event encoded from
    state BEFORE its own target folds in.  This is the operator a
    leakage-safe online feature store runs: the batch window form and
    this drain are bit-identical (integer state + one exact division),
    asserted by the shared oracle and the drain==batch pytest.  Same
    cross-batch in-order-arrival contract as ``cusum_stateful``.
    Backfill guidance (SCALE.md r10): per-micro-batch cost is O(groups
    touched in that batch) — right for increments; an ALL-history
    availableNow drain pays ~2 ms/group framework overhead, so backfill
    with the bit-identical batch window form instead."""
    from cassandra_fs_pp_spark.streaming.filestream import (
        run_available_now,
        stream_table,
        target_encode_prefix_stateful,
    )

    tune(spark)
    ev = stream_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    base = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    out = run_available_now(
        target_encode_prefix_stateful(
            base, key_cols=["user_id", "event_type"]
        )
    )
    return out.select(
        "event_id", "user_id", "event_type", "cents", "prefix_cents_mean"
    )


def a_attribution_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution — the marketing-analytics shape beside
    ``a_funnel``/``a_transition_matrix``: every ``purchase`` conversion
    credits the same user's view/click/signup touches inside a 7-day
    lookback.  Per channel: first-touch and last-touch conversion counts
    plus LINEAR credit — distributed as exact integer micro-credits
    (``1e6 div n`` per touch, remainder to the last touch, so every
    conversion's credit sums to exactly 1e6 and the channel totals are
    order-insensitive integer sums — no float-summation-order hazard).
    Scale shape: the conversion-touch pairing is an equi-join on
    user_id (per-user activity bounds the pair volume); the per-
    conversion ranking windows partition on conv_id."""
    ev = _t(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("conv_id"),
        F.col("ts").alias("conv_ts"),
    )
    touch = ev.filter(
        F.col("event_type").isin("view", "click", "signup")
    ).select(
        "user_id",
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("channel"),
        F.col("ts").alias("touch_ts"),
    )
    j = conv.join(touch, "user_id").filter(
        (F.col("touch_ts") <= F.col("conv_ts"))
        & (
            F.col("touch_ts")
            > F.col("conv_ts") - F.expr("INTERVAL 7 DAYS")
        )
    )
    return _attribution_rollup(j)


def _attribution_rollup(pairs: DataFrame) -> DataFrame:
    """Per-conversion ranking + channel credit rollup over a
    (conv_id, channel, touch_ts, touch_id) pair frame — shared by the
    batch query and its streaming twin (which maintains the pair frame
    incrementally)."""
    wc = Window.partitionBy("conv_id").orderBy("touch_ts", "touch_id")
    ranked = pairs.select(
        "conv_id",
        "channel",
        F.row_number().over(wc).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("conv_id")).alias("n"),
    )
    base = F.expr(f"{ATTRIB_MICROCREDIT} div n")
    rem = F.lit(ATTRIB_MICROCREDIT) - F.col("n") * base
    return (
        ranked.select(
            "channel",
            (F.col("rn") == 1).cast("long").alias("ft"),
            (F.col("rn") == F.col("n")).cast("long").alias("lt"),
            (
                base + F.when(F.col("rn") == F.col("n"), rem).otherwise(0)
            ).alias("mc"),
        )
        .groupBy("channel")
        .agg(
            F.sum("ft").alias("first_touch"),
            F.sum("lt").alias("last_touch"),
            F.sum("mc").alias("linear_microcredit"),
            F.count(F.lit(1)).alias("touchpoints"),
        )
    )


def stream_attribution_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``a_attribution_credit`` (VERDICT r9 item 6):
    the 7-day-lookback conversion-touch pairing runs as a WATERMARKED
    STREAM-STREAM INTERVAL JOIN (both sides carry 7-day watermarks and
    the join predicate bounds touch_ts to (conv_ts - 7d, conv_ts], so
    the state store evicts rows once event time passes the lookback —
    the required shape for unbounded ingest), and every emitted
    (conversion, touch) pair lands in an idempotent foreachBatch ledger
    upsert keyed by (conv_id, touch_id) — at-least-once replays and
    pairs split across micro-batches merge to the same ledger.  The
    per-conversion ranking + channel rollup (``_attribution_rollup``,
    the exact batch code) reads the drained ledger, so drain == batch
    holds by construction regardless of micro-batch boundaries.  At
    scale the ledger parquet becomes a MERGE-capable table
    (``foreach_batch_upsert`` docstring) and the rollup an incremental
    downstream consumer."""
    import tempfile as _tf

    from cassandra_fs_pp_spark.streaming.filestream import (
        foreach_batch_upsert,
        stream_table,
    )

    tune(spark)
    conv = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("conv_id"),
            F.col("ts").alias("conv_ts"),
        )
        .withWatermark("conv_ts", "7 days")
    )
    touch = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click", "signup"))
        .select(
            F.col("user_id").alias("t_user"),
            F.col("event_id").alias("touch_id"),
            F.col("event_type").alias("channel"),
            F.col("ts").alias("touch_ts"),
        )
        .withWatermark("touch_ts", "7 days")
    )
    pairs = conv.join(
        touch,
        (F.col("user_id") == F.col("t_user"))
        & (F.col("touch_ts") <= F.col("conv_ts"))
        & (F.col("touch_ts") > F.col("conv_ts") - F.expr("INTERVAL 7 DAYS")),
        "inner",
    ).select("conv_id", "channel", "touch_ts", "touch_id")
    snap = os.path.join(_tf.mkdtemp(prefix="attrib_ledger_"), "pairs")
    q = foreach_batch_upsert(
        pairs,
        snap,
        key=["conv_id", "touch_id"],
        order_by=["touch_ts"],
        output_mode="append",
    )
    q.awaitTermination()
    return _attribution_rollup(spark.read.parquet(snap))


A_ATTRIBUTION_ORACLE = f"""
WITH conv AS (
  SELECT user_id, event_id AS conv_id, ts AS conv_ts
  FROM events WHERE event_type = 'purchase'
), touch AS (
  SELECT user_id, event_id AS touch_id, event_type AS channel,
         ts AS touch_ts
  FROM events WHERE event_type IN ('view', 'click', 'signup')
), j AS (
  SELECT c.conv_id, t.channel, t.touch_ts, t.touch_id
  FROM conv c JOIN touch t ON c.user_id = t.user_id
  WHERE t.touch_ts <= c.conv_ts
    AND t.touch_ts > c.conv_ts - INTERVAL 7 DAY
), ranked AS (
  SELECT conv_id, channel,
         row_number() OVER (PARTITION BY conv_id
                            ORDER BY touch_ts, touch_id) AS rn,
         count(*) OVER (PARTITION BY conv_id) AS n
  FROM j
)
SELECT channel,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS first_touch,
       CAST(sum(CASE WHEN rn = n THEN 1 ELSE 0 END) AS BIGINT)
         AS last_touch,
       CAST(sum({ATTRIB_MICROCREDIT} // n
                + CASE WHEN rn = n
                       THEN {ATTRIB_MICROCREDIT} - n * ({ATTRIB_MICROCREDIT} // n)
                       ELSE 0 END) AS BIGINT) AS linear_microcredit,
       CAST(count(*) AS BIGINT) AS touchpoints
FROM ranked GROUP BY channel
"""


def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF weighting: term frequency per (doc, token) x smoothed inverse
    document frequency ln((N+1)/(df+1)). The df table is tiny (vocab-sized)
    and broadcast back onto the tf fact — the classic two-agg + broadcast
    join shape that holds at any corpus size."""
    from cassandra_fs_pp_spark.functions.text import whitespace_tokens

    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    tok = docs.select(
        "doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("w")
    )
    tf = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0))
    return (
        tf.join(F.broadcast(df_t), "w")
        .filter(F.col("doc_id") < 50)
        .select(
            "doc_id",
            "w",
            "tf",
            "df",
            F.round(F.col("tf") * idf, 8).alias("tfidf"),
        )
    )


TEXT_TFIDF_ORACLE = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
  FROM documents
), tf AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, w
), df AS (
  SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w
), n AS (SELECT count(*) AS n_docs FROM documents)
SELECT tf.doc_id, tf.w, tf.tf, df.df,
       round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 8) AS tfidf
FROM tf JOIN df USING (w) CROSS JOIN n
WHERE tf.doc_id < 50
"""


BM25_TERMS = ("spark", "join", "window")


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 (k1=1.2, b=0.75) document ranking for a fixed 3-term
    query — the IR scorer next to ``text_tfidf``'s weighting. The shape
    holds at corpus scale: doc lengths and per-term df are skinny
    aggregates, only POSTING rows for the 3 query terms ever shuffle
    (an isin prune straight off the token explode), and the global
    top-10 is TakeOrdered — the only unpartitioned window runs over the
    10 surviving rows. Rank orders by the ROUNDED score so the
    tie-break is identical in both engines."""
    from cassandra_fs_pp_spark.functions.text import whitespace_tokens

    k1, b = 1.2, 0.75
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    tok = docs.select(
        "doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("w")
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    avgdl = dl.agg(F.avg(F.col("dl").cast("double")).alias("avgdl"))
    tf = (
        tok.filter(F.col("w").isin(*BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        1.0 + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = idf * (
        F.col("tf") * (k1 + 1.0)
        / (
            F.col("tf")
            + k1
            * (1.0 - b + b * F.col("dl").cast("double") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(df_t), "w")
        .join(F.broadcast(dl), "doc_id")
        .crossJoin(F.broadcast(avgdl))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(contrib), 6).alias("bm25"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )
    top = scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(10)
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "bm25", "n_terms_hit", "rank"
    )


TEXT_BM25_ORACLE = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
  FROM documents
), dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1
), avgdl AS (
  SELECT avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl
), n AS (SELECT count(*) AS n_docs FROM documents),
tf AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE w IN ('spark', 'join', 'window') GROUP BY 1, 2
), df AS (
  SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
), scored AS (
  SELECT tf.doc_id,
         round(sum(
           ln(1.0 + (n.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * 2.2
              / (tf.tf + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE)
                                              / avgdl.avgdl)))
         ), 6) AS bm25,
         CAST(count(*) AS BIGINT) AS n_terms_hit
  FROM tf
  JOIN df USING (w) JOIN dl USING (doc_id)
  CROSS JOIN avgdl CROSS JOIN n
  GROUP BY 1
)
SELECT doc_id, bm25, n_terms_hit,
       CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rank
FROM scored
ORDER BY bm25 DESC, doc_id LIMIT 10
"""


def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup (web-pipeline staple): canonicalize synthesized
    URLs (lowercase host, strip query/fragment, trim trailing slash), then
    deterministic keep-first per canonical key — P3's semantics over a
    derived key, pushdown-friendly and one shuffle on the key."""
    docs = _t(spark, sf_dir, "documents")
    # two docs per (source, lang, doc_id%50) collide by construction
    url = F.concat(
        F.lit("HTTPS://"),
        F.upper(F.col("source")),
        F.lit(".Example.org/docs/"),
        F.col("lang"),
        F.lit("/"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("/?utm=x&ref="),
        F.col("doc_id").cast("string"),
    )
    d = docs.select("doc_id", url.alias("url"))
    canon = F.regexp_replace(  # strip query/fragment
        F.regexp_replace(F.lower("url"), r"[?#].*$", ""), r"/$", ""
    )
    w = Window.partitionBy("canonical_url").orderBy("doc_id")
    return (
        d.withColumn("canonical_url", canon)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("canonical_url", F.col("doc_id").alias("kept_doc_id"))
    )


DEDUP_URL_ORACLE = r"""
WITH d AS (
  SELECT doc_id,
         'HTTPS://' || upper(source) || '.Example.org/docs/' || lang || '/'
           || CAST(doc_id % 50 AS VARCHAR) || '/?utm=x&ref='
           || CAST(doc_id AS VARCHAR) AS url
  FROM documents
), c AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(lower(url), '[?#].*$', ''),
                        '/$', '') AS canonical_url
  FROM d
)
SELECT canonical_url, kept_doc_id FROM (
  SELECT canonical_url, doc_id AS kept_doc_id,
         row_number() OVER (PARTITION BY canonical_url ORDER BY doc_id) AS rn
  FROM c
) WHERE rn = 1
"""


def w_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 24h co-moment analytics per user: trailing correlation of
    value vs elapsed-seconds plus trailing mean — window co-moment
    aggregates over a time-range frame (W1/W4's frame machinery applied to
    bivariate stats). Rounded past double-accumulation noise."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 8)
    sec = F.col("ts").cast("timestamp").cast("double")
    w = (
        Window.partitionBy("user_id")
        .orderBy(sec)
        .rangeBetween(-86400, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.corr(F.col("value"), sec).over(w), 6).alias("corr_24h"),
        F.round(F.avg("value").over(w), 6).alias("avg_24h"),
        F.count(F.lit(1)).over(w).alias("n_24h"),
    )


W_ROLLING_CORR_ORACLE = """
SELECT user_id, event_id, ts,
       round(corr(value, epoch(ts)) OVER w, 6) AS corr_24h,
       round(avg(value) OVER w, 6) AS avg_24h,
       count(*) OVER w AS n_24h
FROM events WHERE user_id < 8
WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts)
             RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)
"""


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pass a training-data user actually runs, as ONE
    lineage: exact-fingerprint keep-first dedup -> Gopher quality rules ->
    deterministic per-language rebalancing -> per-source char budget ->
    per-source summary. Every stage is the already-verified operator; the
    composition stays a single Catalyst plan (scan-pruned, hash-keyed
    shuffles only, no driver materialization between stages)."""
    from cassandra_fs_pp_spark.functions.curation import (
        gopher_quality_flags,
        source_budget_keep,
        stratified_sample_keep,
    )
    from cassandra_fs_pp_spark.functions.text import fingerprint

    docs = _t(spark, sf_dir, "documents", spread=False)
    w = Window.partitionBy("fp").orderBy("doc_id")
    dd = (
        docs.withColumn("fp", fingerprint(F.col("text")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("fp", "rn")
    )
    flags = gopher_quality_flags(F.col("text"), min_mean_wl=3.5, max_mean_wl=4.6)
    quality = dd.filter(
        ~(
            flags["fail_word_count"]
            | flags["fail_mean_word_len"]
            | flags["fail_stopword_ratio"]
        )
    )
    sampled = quality.filter(
        stratified_sample_keep(
            F.col("doc_id"),
            F.col("lang"),
            {"en": 60, "de": 100, "es": 100, "fr": 100, "zh": 100},
        )
    )
    budgeted = source_budget_keep(sampled, budget=3000)
    return budgeted.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("chars_kept"),
        F.sum("doc_id").alias("id_checksum"),
    )


CURATION_PIPELINE_ORACLE = r"""
WITH dd AS (
  SELECT * FROM (
    SELECT d.*, row_number() OVER (
      PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
      ORDER BY doc_id) AS rn
    FROM documents d)
  WHERE rn = 1
), t AS (
  SELECT doc_id, lang, source, n_chars,
         string_split_regex(lower(trim(text)), '\s+') AS t
  FROM dd
), m AS (
  SELECT doc_id, lang, source, n_chars, len(t) AS wc,
         CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t)
           AS mwl,
         CAST(len(list_filter(t, x -> x IN
              ('the','a','of','and','to','in','is','it','that','for')))
              AS DOUBLE) / len(t) AS swr
  FROM t
), quality AS (
  SELECT doc_id, lang, source, n_chars FROM m
  WHERE wc BETWEEN 20 AND 80 AND mwl BETWEEN 3.5 AND 4.6 AND swr >= 0.02
), sampled AS (
  SELECT * FROM quality
  WHERE (lang = 'en' AND
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 60)
     OR lang IN ('de', 'es', 'fr', 'zh')
), budgeted AS (
  SELECT * FROM (
    SELECT doc_id, source, n_chars,
           sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum_size
    FROM sampled)
  WHERE cum_size <= 3000
)
SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(n_chars) AS BIGINT) AS chars_kept,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM budgeted GROUP BY source
"""


# --------------------------------------------------------------------------
# Event-pipeline ops: burst debounce, time-weighted mean, histogram,
# sweep-line concurrency, step detection.
# --------------------------------------------------------------------------

def p_debounce_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst-collapse dedup: per event_type, keep the first event of each
    burst (gap > 30 min starts a new burst), with absorbed-count."""
    from cassandra_fs_pp_spark.operators.dedup import debounce_keep_first

    ev = _t(spark, sf_dir, "events")
    kept = debounce_keep_first(
        ev, keys=["event_type"], ts="ts", gap_s=1800, tiebreak=["event_id"]
    )
    return kept.select(
        "event_type",
        F.col("event_id").alias("kept_event_id"),
        F.col("ts").alias("kept_ts"),
        "burst_n",
    )


P_DEBOUNCE_ORACLE = """
WITH o AS (
  SELECT event_type, event_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1
              WHEN lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
), g AS (
  SELECT *, sum(brk) OVER (PARTITION BY event_type ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS burst
  FROM o
)
SELECT event_type, min(event_id ORDER BY ts, event_id) AS kept_event_id,
       min(ts) AS kept_ts, CAST(count(*) AS BIGINT) AS burst_n
FROM g GROUP BY event_type, burst
"""


def p_debounce_burst_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleet-keyed burst-collapse: the SCALE.md valve for
    ``p_debounce_burst`` made first-class.  The enum-keyed form
    parallelizes at |event_type| tasks (fine on bounded per-key domains,
    documented in SCALE.md); keying by (user_id, event_type) — the shape
    a 100 TB fleet actually has — spreads the same window over the full
    hash space, so wall time stays ~flat as users grow.  Identical
    operator (``debounce_keep_first`` takes ``keys=``), identical
    semantics per series."""
    from cassandra_fs_pp_spark.operators.dedup import debounce_keep_first

    ev = _t(spark, sf_dir, "events")
    kept = debounce_keep_first(
        ev,
        keys=["user_id", "event_type"],
        ts="ts",
        gap_s=1800,
        tiebreak=["event_id"],
    )
    return kept.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("kept_event_id"),
        F.col("ts").alias("kept_ts"),
        "burst_n",
    )


P_DEBOUNCE_KEYED_ORACLE = """
WITH o AS (
  SELECT user_id, event_type, event_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1
              WHEN lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
), g AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS burst
  FROM o
)
SELECT user_id, event_type,
       min(event_id ORDER BY ts, event_id) AS kept_event_id,
       min(ts) AS kept_ts, CAST(count(*) AS BIGINT) AS burst_n
FROM g GROUP BY user_id, event_type, burst
"""


def a_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Step-function time-weighted mean of value per user — the exact
    aggregate for irregularly-sampled series (vs grid resampling)."""
    from cassandra_fs_pp_spark.operators.windows import time_weighted_avg

    ev = _t(spark, sf_dir, "events")
    out = time_weighted_avg(
        ev, keys=["user_id"], t="ts", x="value", tiebreak=["event_id"]
    )
    return out.select(
        "user_id",
        F.round("twa_value", 6).alias("twa_value"),
        F.round("span_s", 6).alias("span_s"),
        "n_holds",
    )


A_TWA_ORACLE = """
WITH d AS (
  SELECT user_id, value,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - epoch_us(ts) AS dur_us
  FROM events
)
SELECT user_id, round(sum(value*dur_us)/sum(dur_us), 6) AS twa_value,
       round(sum(dur_us)/1e6, 6) AS span_s, CAST(count(*) AS BIGINT) AS n_holds
FROM d WHERE dur_us IS NOT NULL GROUP BY user_id
"""


def a_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bound histogram of l_extendedprice (5000-wide buckets, clamped
    to [0, 21]) with per-bucket count and exact DECIMAL sum."""
    li = _t(spark, sf_dir, "lineitem")
    bucket = F.least(
        F.lit(21), F.greatest(F.lit(0), F.floor(F.col("l_extendedprice") / 5000.0))
    ).cast("int")
    return (
        li.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(14,2)")), 2)
            .cast("double")
            .alias("sum_price"),
        )
        .withColumn("lo_edge", (F.col("bucket") * F.lit(5000)).cast("double"))
    )


A_HISTOGRAM_ORACLE = """
SELECT CAST(least(21, greatest(0, floor(l_extendedprice / 5000.0))) AS INT)
         AS bucket,
       count(*) AS n,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2))), 2) AS DOUBLE)
         AS sum_price,
       CAST(CAST(least(21, greatest(0, floor(l_extendedprice / 5000.0))) AS INT)
            * 5000 AS DOUBLE) AS lo_edge
FROM lineitem GROUP BY 1
"""


def a_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max concurrent open intervals per day (interval = event ts for
    value*60 seconds) — distributed sweep-line (day-partitioned cumsum +
    broadcast per-day baseline)."""
    from cassandra_fs_pp_spark.operators.windows import sweep_concurrency

    ev = _t(spark, sf_dir, "events")
    iv = ev.select(
        F.col("ts").alias("s"),
        F.expr("timestampadd(SECOND, cast(round(value*60) as int), ts)").alias("e"),
    )
    return sweep_concurrency(iv, "s", "e")


A_CONCURRENCY_ORACLE = """
WITH iv AS (
  SELECT ts AS s, ts + INTERVAL 1 SECOND * CAST(round(value*60) AS BIGINT) AS e
  FROM events
), b AS (
  SELECT s AS t, 1 AS d FROM iv
  UNION ALL
  SELECT e AS t, -1 AS d FROM iv
), r AS (
  SELECT t, d, sum(d) OVER (ORDER BY t, d ROWS UNBOUNDED PRECEDING) AS conc
  FROM b
), day_tot AS (
  SELECT date_trunc('day', t) AS day_ts, sum(d) AS dd FROM b GROUP BY 1
), off AS (
  SELECT day_ts,
         COALESCE(sum(dd) OVER (ORDER BY day_ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
  FROM day_tot
)
SELECT r.day_ts,
       CAST(greatest(max(r.conc), any_value(o.base)) AS BIGINT)
         AS max_concurrent
FROM (SELECT date_trunc('day', t) AS day_ts, conc FROM r) r
JOIN off o USING (day_ts)
GROUP BY r.day_ts
"""


def w_step_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9 auto-detection: flag days where the 2-day-forward median of a
    user's daily total jumps > 150 vs the 3-days-back median."""
    from cassandra_fs_pp_spark.operators.windows import step_detect

    ev = _t(spark, sf_dir, "events")
    # one shuffle total: hash(user_id) satisfies the groupBy's
    # (user_id, day) clustering requirement AND both median windows'
    # partitioning, so agg + windows all reuse this exchange
    daily = (
        ev.repartition("user_id")
        .groupBy("user_id", F.date_trunc("day", "ts").alias("day_ts"))
        .agg(F.round(F.sum("value"), 3).alias("day_value"))
    )
    flagged = step_detect(
        daily,
        keys=["user_id"],
        t="day_ts",
        x="day_value",
        before_s=(259_200, 86_400),
        after_s=(0, 172_800),
        threshold=150.0,
        min_periods=2,
    )
    return flagged.select(
        "user_id",
        "day_ts",
        "day_value",
        F.round("med_before", 4).alias("med_before"),
        F.round("med_after", 4).alias("med_after"),
        F.round("step", 4).alias("step"),
    )


W_STEP_ORACLE = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day_ts,
         round(sum(value), 3) AS day_value
  FROM events GROUP BY 1, 2
), m AS (
  SELECT user_id, day_ts, day_value,
    median(day_value) OVER (PARTITION BY user_id ORDER BY epoch(day_ts)
      RANGE BETWEEN 259200 PRECEDING AND 86400 PRECEDING) AS med_before,
    count(day_value) OVER (PARTITION BY user_id ORDER BY epoch(day_ts)
      RANGE BETWEEN 259200 PRECEDING AND 86400 PRECEDING) AS cnt_before,
    median(day_value) OVER (PARTITION BY user_id ORDER BY epoch(day_ts)
      RANGE BETWEEN CURRENT ROW AND 172800 FOLLOWING) AS med_after,
    count(day_value) OVER (PARTITION BY user_id ORDER BY epoch(day_ts)
      RANGE BETWEEN CURRENT ROW AND 172800 FOLLOWING) AS cnt_after
  FROM daily
)
SELECT user_id, day_ts, day_value,
       round(med_before, 4) AS med_before,
       round(med_after, 4) AS med_after,
       round(med_after - med_before, 4) AS step
FROM m
WHERE cnt_before >= 2 AND cnt_after >= 2
  AND abs(med_after - med_before) > 150
"""


# --------------------------------------------------------------------------
# Data-quality family + weighted sampling.
# --------------------------------------------------------------------------

def dq_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan row/key counts per FK relation.
    Two relations are checked against 'active' dim subsets (soft-delete
    simulation) so orphans are non-zero.

    Single-pass shape: the fact is scanned ONCE with all three dims
    broadcast-left-joined as presence marks, then one multi-aggregate row
    (conditional counts + distinct-orphan keys) is exploded via ``stack``
    — versus one anti-join scan per FK. Trade-off: 3 distinct-aggs in one
    agg cost an expand(×3) before the shuffle; that is still one fact
    scan instead of three, and at 100 TB the scan dominates."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_suppkey")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    apart = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 11 != 0)
    supp = _t(spark, sf_dir, "supplier").filter(F.col("s_suppkey") % 7 != 0)

    marked = (
        li.join(
            F.broadcast(orders.select(F.col("o_orderkey").alias("__k_ord"))),
            F.col("l_orderkey") == F.col("__k_ord"),
            "left",
        )
        .join(
            F.broadcast(apart.select(F.col("p_partkey").alias("__k_part"))),
            F.col("l_partkey") == F.col("__k_part"),
            "left",
        )
        .join(
            F.broadcast(supp.select(F.col("s_suppkey").alias("__k_supp"))),
            F.col("l_suppkey") == F.col("__k_supp"),
            "left",
        )
    )
    orphan = lambda mark, key: F.when(F.col(mark).isNull(), F.col(key))  # noqa: E731
    li_agg = marked.agg(
        F.count(orphan("__k_ord", "l_orderkey")).alias("r_ord"),
        F.countDistinct(orphan("__k_ord", "l_orderkey")).alias("k_ord"),
        F.count(orphan("__k_part", "l_partkey")).alias("r_part"),
        F.countDistinct(orphan("__k_part", "l_partkey")).alias("k_part"),
        F.count(orphan("__k_supp", "l_suppkey")).alias("r_supp"),
        F.countDistinct(orphan("__k_supp", "l_suppkey")).alias("k_supp"),
    ).selectExpr(
        """stack(3,
            'lineitem.l_orderkey->orders', r_ord, k_ord,
            'lineitem.l_partkey->part_active', r_part, k_part,
            'lineitem.l_suppkey->supplier_active', r_supp, k_supp
        ) AS (fk, orphan_rows, orphan_keys)"""
    )
    ord_agg = (
        orders.join(
            F.broadcast(cust.select(F.col("c_custkey").alias("__k_cust"))),
            F.col("o_custkey") == F.col("__k_cust"),
            "left",
        )
        .agg(
            F.lit("orders.o_custkey->customer").alias("fk"),
            F.count(orphan("__k_cust", "o_custkey")).alias("orphan_rows"),
            F.countDistinct(orphan("__k_cust", "o_custkey")).alias("orphan_keys"),
        )
    )
    return li_agg.unionAll(ord_agg)


DQ_REF_ORACLE = """
SELECT 'lineitem.l_orderkey->orders' AS fk, count(*) AS orphan_rows,
       count(DISTINCT l.l_orderkey) AS orphan_keys
FROM lineitem l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'orders.o_custkey->customer', count(*), count(DISTINCT o.o_custkey)
FROM orders o ANTI JOIN customer c ON o.o_custkey = c.c_custkey
UNION ALL
SELECT 'lineitem.l_partkey->part_active', count(*), count(DISTINCT l.l_partkey)
FROM lineitem l ANTI JOIN (SELECT * FROM part WHERE p_partkey % 11 <> 0) p
  ON l.l_partkey = p.p_partkey
UNION ALL
SELECT 'lineitem.l_suppkey->supplier_active', count(*),
       count(DISTINCT l.l_suppkey)
FROM lineitem l ANTI JOIN (SELECT * FROM supplier WHERE s_suppkey % 7 <> 0) s
  ON l.l_suppkey = s.s_suppkey
"""


DQ_RULES: list[tuple[str, str]] = [
    # (rule_name, SQL predicate that a VIOLATING row fails) — shared text
    # for both engines, so the rule spec itself cannot drift.
    ("value_in_range", "value IS NULL OR (value >= 0 AND value <= 2000)"),
    ("type_in_domain",
     "event_type IN ('click','view','purchase','error','signup')"),
    ("user_nonneg", "user_id >= 0"),
    ("ts_in_window", "ts >= TIMESTAMP '2020-01-01 00:00:00'"),
    ("props_wellformed", "props IS NULL OR props LIKE '{%'"),
]


def dq_rule_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative rule engine: a config list of named SQL predicates
    evaluated in ONE scan (each rule is a conditional count — no
    per-rule pass), reporting violations and violation rate per rule.
    The rule text is shared verbatim with the oracle, the way a real
    data-contract suite pins its checks."""
    ev = _t(spark, sf_dir, "events")
    aggs = []
    for name, pred in DQ_RULES:
        aggs.append(
            F.sum(F.when(~F.expr(pred), 1).otherwise(0))
            .cast("long")
            .alias(f"v_{name}")
        )
    one = ev.agg(F.count(F.lit(1)).alias("__n"), *aggs)
    stack_items = ", ".join(
        f"'{name}', v_{name}" for name, _ in DQ_RULES
    )
    return one.selectExpr(
        f"stack({len(DQ_RULES)}, {stack_items}) AS (rule, n_violations)",
        "__n AS n_rows",
    ).selectExpr(
        "rule",
        "n_violations",
        "n_rows",
        "round(CAST(n_violations AS DOUBLE) / n_rows, 8) AS violation_rate",
    )


def _dq_rules_oracle() -> str:
    branches = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS rule,\n"
        f"       CAST(sum(CASE WHEN NOT ({pred}) THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_violations,\n"
        f"       CAST(count(*) AS BIGINT) AS n_rows\nFROM events"
        for name, pred in DQ_RULES
    )
    return (
        "SELECT rule, n_violations, n_rows,\n"
        "       round(CAST(n_violations AS DOUBLE) / n_rows, 8)"
        " AS violation_rate\n"
        f"FROM ({branches})"
    )


def a_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median of value per event type (weight = 1 + number
    of props bytes, an arbitrary integer weight): sort by value, running
    weight cumsum, first value whose cumsum reaches half the total —
    the lower weighted median, integer-exact on both engines (no
    interpolation, so no engine-specific percentile semantics)."""
    ev = _t(spark, sf_dir, "events")
    # null values excluded: the engines disagree on null sort position
    # (Spark NULLS FIRST asc, DuckDB NULLS LAST), which would shift the
    # cumsum; tied values are safe (the qualifying-value set depends only
    # on the total weight at <= v, not the intra-tie order).
    base = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        "value",
        (F.lit(1) + F.coalesce(F.length("props"), F.lit(0)))
        .cast("long")
        .alias("wt"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("event_type")
    cum = base.select(
        "event_type",
        "value",
        F.sum("wt").over(w).alias("cw"),
        F.sum("wt").over(tot).alias("tw"),
    )
    return (
        cum.filter(F.lit(2) * F.col("cw") >= F.col("tw"))
        .groupBy("event_type")
        .agg(
            F.min("value").alias("weighted_median"),
            F.max("tw").alias("total_weight"),
        )
    )


A_WEIGHTED_MEDIAN_ORACLE = """
WITH base AS (
  SELECT event_type, value,
         CAST(1 + coalesce(length(props), 0) AS BIGINT) AS wt
  FROM events WHERE value IS NOT NULL),
c AS (
  SELECT event_type, value,
         sum(wt) OVER (PARTITION BY event_type ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cw,
         sum(wt) OVER (PARTITION BY event_type) AS tw
  FROM base)
SELECT event_type, min(value) AS weighted_median,
       CAST(max(tw) AS BIGINT) AS total_weight
FROM c WHERE 2 * cw >= tw GROUP BY event_type
"""


def dq_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile (count / nulls / exact distinct) in ONE scan: a single
    multi-aggregate row exploded via ``stack``. ``value_valid`` is the
    P7-style validity-nulled value ([0,100] else null) so the null counts
    are non-degenerate. At 100 TB swap ``countDistinct`` for
    ``approx_count_distinct`` (HLL) to avoid the expand-induced blowup."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "value_valid",
        F.when(F.col("value").between(0, 100), F.col("value")),
    )
    agg = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("user_id").alias("nn_user"),
        F.countDistinct("user_id").alias("nd_user"),
        F.count("event_type").alias("nn_type"),
        F.countDistinct("event_type").alias("nd_type"),
        F.count("value_valid").alias("nn_value"),
        F.countDistinct("value_valid").alias("nd_value"),
        F.count("props").alias("nn_props"),
        F.countDistinct("props").alias("nd_props"),
    )
    return agg.selectExpr(
        """stack(4,
            'user_id', n, n - nn_user, nd_user,
            'event_type', n, n - nn_type, nd_type,
            'value_valid', n, n - nn_value, nd_value,
            'props', n, n - nn_props, nd_props
        ) AS (col_name, n, nulls, n_distinct)"""
    )


DQ_NULL_ORACLE = """
WITH ev AS (
  SELECT *, CASE WHEN value BETWEEN 0 AND 100 THEN value END AS value_valid
  FROM events
)
SELECT 'user_id' AS col_name, count(*) AS n,
       count(*) - count(user_id) AS nulls,
       count(DISTINCT user_id) AS n_distinct FROM ev
UNION ALL
SELECT 'event_type', count(*), count(*) - count(event_type),
       count(DISTINCT event_type) FROM ev
UNION ALL
SELECT 'value_valid', count(*), count(*) - count(value_valid),
       count(DISTINCT value_valid) FROM ev
UNION ALL
SELECT 'props', count(*), count(*) - count(props),
       count(DISTINCT props) FROM ev
"""


def curation_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample without replacement (A-Res): top-10
    docs per lang by hash-uniform^(1/n_chars) priority."""
    from cassandra_fs_pp_spark.functions.curation import weighted_reservoir_topk

    docs = _t(spark, sf_dir, "documents")
    out = weighted_reservoir_topk(
        docs, weight_col="n_chars", id_col="doc_id", k=10, stratum_col="lang"
    )
    return out.select("lang", "doc_id", "n_chars", "sample_rank")


CURATION_WSAMPLE_ORACLE = """
WITH k AS (
  SELECT doc_id, lang, n_chars,
         CASE WHEN n_chars > 0 THEN
           pow( ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % 1000000000) + 0.5) / 1e9,
                1.0 / n_chars )
         ELSE -1.0 END AS key
  FROM documents
), r AS (
  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY key DESC, doc_id)
           AS sample_rank
  FROM k
)
SELECT lang, doc_id, n_chars, CAST(sample_rank AS INT) AS sample_rank
FROM r WHERE sample_rank <= 10
"""


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (8 power iterations, d=0.85 as the rational 17/20) over
    the directed part->supplier co-purchase graph — the iterative-join
    primitive next to connected components, in EXACT fixed-point integer
    arithmetic (``operators/graph.pagerank_exact``): integer sums are
    order-insensitive and ``div`` is engine-identical, so the formerly
    rows-only float iteration is now FULLY oracle-checkable against an
    unrolled 8-step SQL replay (r7; a pytest holds it within 1e-9 of a
    numpy float power iteration)."""
    from cassandra_fs_pp_spark.operators.graph import pagerank_exact

    li = _t(spark, sf_dir, "lineitem")
    edges = (
        li.filter((F.col("l_quantity") == 50) & (F.col("l_discount") > 0.08))
        .select(
            F.col("l_partkey").alias("src"),
            (F.lit(1000000) + F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    ranks = pagerank_exact(edges, iterations=8)
    return ranks.select(
        "node",
        "rank_fp",
        F.round(F.col("rank_fp").cast("double") / F.lit(1e12), 8).alias(
            "rank"
        ),
    )


def _pagerank_sql(iterations: int = 8, scale: int = 10**12) -> str:
    """Unrolled fixed-iteration integer PageRank replay (recursive CTEs
    cannot reference the working table twice, so the fixed count is
    simply unrolled — one plain CTE per round)."""
    base_num = 3 * scale
    head = """
WITH e AS (
  SELECT DISTINCT l_partkey AS s, 1000000 + l_suppkey AS t
  FROM lineitem WHERE l_quantity = 50 AND l_discount > 0.08),
nodes AS (SELECT s AS node FROM e UNION SELECT t AS node FROM e),
odeg AS (SELECT s, CAST(count(*) AS BIGINT) AS od FROM e GROUP BY 1),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
r0 AS (SELECT node, CAST({scale} // nn.n AS BIGINT) AS r
       FROM nodes, nn)""".format(scale=scale)
    steps = "".join(
        """,
r{k} AS (
  SELECT n2.node,
         CAST({base_num} // (20 * nn.n)
              + (17 * coalesce(c.sv, 0)) // 20 AS BIGINT) AS r
  FROM nodes n2 CROSS JOIN nn
  LEFT JOIN (
    SELECT e.t AS node, CAST(sum(p.r // o.od) AS BIGINT) AS sv
    FROM r{prev} p JOIN e ON e.s = p.node JOIN odeg o ON o.s = p.node
    GROUP BY 1) c ON c.node = n2.node)""".format(
            k=k, prev=k - 1, base_num=base_num
        )
        for k in range(1, iterations + 1)
    )
    return (
        head
        + steps
        + f"""
SELECT node, r AS rank_fp,
       round(CAST(r AS DOUBLE) / 1e12, 8) AS rank
FROM r{iterations}
"""
    )


def j_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join without the cross product: 30-min error windows ×
    30-min click windows per user, via the bucketized equi-join
    (explode→hash-join on (user, bucket)→anchor-bucket dedup→exact
    predicate).  The naive range condition would plan as a
    BroadcastNestedLoopJoin; this shape is one hash shuffle."""
    from cassandra_fs_pp_spark.operators.joins import interval_overlap_join

    ev = _t(spark, sf_dir, "events")

    def side(typ: str, p: str) -> DataFrame:
        return ev.filter(F.col("event_type") == typ).select(
            "user_id",
            F.col("event_id").alias(f"{p}_id"),
            F.col("ts").alias(f"{p}_start"),
            (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias(f"{p}_end"),
        )

    return interval_overlap_join(
        side("error", "a"), side("click", "b"),
        l_start="a_start", l_end="a_end",
        r_start="b_start", r_end="b_end",
        bucket_s=1800, keys=("user_id",),
    )


J_INTERVAL_ORACLE = """
WITH a AS (
  SELECT user_id, event_id AS a_id, ts AS a_start,
         ts + INTERVAL 30 MINUTE AS a_end
  FROM events WHERE event_type = 'error'
), b AS (
  SELECT user_id, event_id AS b_id, ts AS b_start,
         ts + INTERVAL 30 MINUTE AS b_end
  FROM events WHERE event_type = 'click'
)
SELECT a.user_id, a.a_id, a.a_start, a.a_end, b.b_id, b.b_start, b.b_end
FROM a JOIN b ON a.user_id = b.user_id
              AND a.a_start <= b.b_end AND b.b_start <= a.a_end
"""


def j_temporal_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (SCD2) join: attach each event to the dimension version
    valid at its timestamp (``valid_from <= ts < valid_to``, open current
    interval). Composes the SCD2 build with the interval join; every event
    lands in exactly one version, so per-version counts partition the
    fact. Broadcast the (small) dimension side at scale."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    scd2 = (
        ev.withColumn("prev_value", F.lag("value").over(w))
        .filter(F.col("prev_value").isNull() | (F.col("value") != F.col("prev_value")))
        .select(
            F.col("user_id").alias("d_user"),
            F.col("event_type").alias("d_type"),
            F.col("value").alias("version_value"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(
                Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
            ).alias("valid_to"),
        )
    )
    joined = ev.join(
        F.broadcast(scd2),
        (F.col("user_id") == F.col("d_user"))
        & (F.col("event_type") == F.col("d_type"))
        & (F.col("ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
    )
    return joined.groupBy("user_id", "event_type", "valid_from").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.first("version_value"), 3).alias("version_value"),
    )


J_TEMPORAL_SCD2_ORACLE = """
WITH ev AS (
  SELECT * FROM events WHERE user_id < 20
), c AS (
  SELECT user_id, event_type, value, ts, event_id,
         lag(value) OVER w AS prev_value
  FROM ev WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
), scd2 AS (
  SELECT user_id AS d_user, event_type AS d_type, value AS version_value,
         ts AS valid_from, lead(ts) OVER w2 AS valid_to
  FROM c WHERE prev_value IS NULL OR value <> prev_value
  WINDOW w2 AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
)
SELECT e.user_id, e.event_type, s.valid_from,
       count(*) AS n_events,
       round(min(s.version_value), 3) AS version_value
FROM ev e JOIN scd2 s
  ON e.user_id = s.d_user AND e.event_type = s.d_type
 AND e.ts >= s.valid_from
 AND (s.valid_to IS NULL OR e.ts < s.valid_to)
GROUP BY 1, 2, 3
"""


def a_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts + row-normalized probabilities
    between consecutive event types per user. One user-keyed window + one
    pair groupBy + one tiny per-source window — the path-analysis primitive
    (next-action prediction, funnel leakage)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wrow = Window.partitionBy("event_type")
    return pairs.withColumn(
        "p", F.round(F.col("n") / F.sum("n").over(wrow), 6)
    )


A_TRANSITION_ORACLE = """
WITH s AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events
)
SELECT event_type, next_type, count(*) AS n,
       round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY event_type), 6)
         AS p
FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2
"""


def a_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: per-type median + MAD (median absolute
    deviation), flag rows with |robust z| > 2.5 (z = (x-med)/(1.4826*MAD)).
    The principled generalization of the reference's fixed-threshold
    rolling-median despike (P9, ``cassandra_fs_pp/fs_pp.py:562-563``) —
    scale-free, so one threshold works across heterogeneous sensors.
    Two tiny per-key aggregates broadcast back onto the fact."""
    ev = _t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias("mad"))
    )
    z = (F.col("value") - F.col("med")) / (F.lit(1.4826) * F.col("mad"))
    return (
        ev.join(F.broadcast(mad), "event_type")
        .filter(F.abs(z) > 2.5)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(z, 4).alias("robust_z"),
        )
    )


A_MAD_ORACLE = """
WITH med AS (
  SELECT event_type, median(value) AS med FROM events GROUP BY 1
), mad AS (
  SELECT e.event_type, m.med, median(abs(e.value - m.med)) AS mad
  FROM events e JOIN med m USING (event_type) GROUP BY 1, 2
)
SELECT e.event_id, e.event_type, e.value,
       round((e.value - m.med) / (1.4826 * m.mad), 4) AS robust_z
FROM events e JOIN mad m USING (event_type)
WHERE abs((e.value - m.med) / (1.4826 * m.mad)) > 2.5
"""


def a_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs ordered together (support
    >= 2) with lift = P(a,b)/(P(a)P(b)). Distinct item sets self-join on
    the order key — co-partitioned on the join key, so the pair explosion
    stays within each order's partition; part frequencies and the order
    count attach as broadcasts. At 100 TB cap basket width first (orders
    with thousands of items quadratically dominate)."""
    li = _t(spark, sf_dir, "lineitem")
    items = (
        li.filter(F.col("l_partkey") < 1000)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = li.agg(F.countDistinct("l_orderkey").alias("n"))
    freq = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("f"))
    a = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("p1"))
    b = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("p2"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("together"))
        .filter(F.col("together") >= 2)
    )
    f1 = freq.select(F.col("l_partkey").alias("p1"), F.col("f").alias("f1"))
    f2 = freq.select(F.col("l_partkey").alias("p2"), F.col("f").alias("f2"))
    return (
        pairs.join(F.broadcast(f1), "p1")
        .join(F.broadcast(f2), "p2")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "p1",
            "p2",
            "together",
            F.round(
                F.col("together") * F.col("n") / (F.col("f1") * F.col("f2")), 6
            ).alias("lift"),
        )
    )


A_BASKET_ORACLE = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_partkey < 1000
), n_orders AS (
  SELECT count(DISTINCT l_orderkey) AS n FROM lineitem
), freq AS (
  SELECT l_partkey, count(*) AS f FROM items GROUP BY 1
), pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS together
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT p.p1, p.p2, p.together,
       round(p.together * n.n * 1.0 / (f1.f * f2.f), 6) AS lift
FROM pairs p, n_orders n
JOIN freq f1 ON f1.l_partkey = p.p1
JOIN freq f2 ON f2.l_partkey = p.p2
"""


def a_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration across customers:
    G = 2*sum(i*r_i)/(n*sum(r)) - (n+1)/n over ascending-sorted revenues.
    Rank sums stay DECIMAL (exact, order-independent), and the global
    rank uses the DISTRIBUTED two-phase row_number (range repartition +
    narrow local indexing + broadcast offsets,
    ``operators/stats.global_row_number``) — no single-partition
    ORDER BY anywhere in the plan."""
    from cassandra_fs_pp_spark.operators.stats import global_row_number

    orders = _t(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("r")
    )
    ranked = global_row_number(rev, ["r", "o_custkey"], out_col="i")
    return ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(
            F.lit(2.0) * F.sum(F.col("i") * F.col("r")).cast("double")
            / (F.count(F.lit(1)) * F.sum("r").cast("double"))
            - (F.count(F.lit(1)) + F.lit(1.0)) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
    )


A_GINI_ORACLE = """
WITH rev AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS r
  FROM orders GROUP BY 1
), ranked AS (
  SELECT r, row_number() OVER (ORDER BY r, o_custkey) AS i FROM rev
)
SELECT count(*) AS n_customers,
       round(2.0 * CAST(sum(i * r) AS DOUBLE)
               / (count(*) * CAST(sum(r) AS DOUBLE))
             - (count(*) + 1.0) / count(*), 6) AS gini
FROM ranked
"""


def a_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test: event_type x customer market segment.
    Observed cell counts (one agg), marginals as windows over the TINY
    cell table (25 rows — no second pass over the fact), chi2 =
    sum((o-e)^2/e), dof = (r-1)(c-1)."""
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    cell = (
        ev.join(F.broadcast(cust), ev["user_id"] == cust["c_custkey"])
        .groupBy("event_type", F.col("c_mktsegment").alias("seg"))
        .agg(F.count(F.lit(1)).alias("o"))
    )
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("seg")
    wall = Window.partitionBy()
    e = (
        F.sum("o").over(wr)
        * F.sum("o").over(wc)
        / F.sum("o").over(wall)
    )
    return (
        cell.withColumn("e", e)
        .agg(
            F.round(F.sum(F.pow(F.col("o") - F.col("e"), 2) / F.col("e")), 6).alias(
                "chi2"
            ),
            (
                (F.countDistinct("event_type") - 1) * (F.countDistinct("seg") - 1)
            ).alias("dof"),
        )
    )


A_CHI2_ORACLE = """
WITH joined AS (
  SELECT e.event_type, c.c_mktsegment AS seg
  FROM events e JOIN customer c ON e.user_id = c.c_custkey
), cell AS (
  SELECT event_type, seg, count(*) AS o FROM joined GROUP BY 1, 2
), m AS (
  SELECT event_type, seg, o,
         sum(o) OVER (PARTITION BY event_type) AS rt,
         sum(o) OVER (PARTITION BY seg) AS ct,
         sum(o) OVER () AS n
  FROM cell
)
SELECT round(sum(pow(o - rt*ct*1.0/n, 2) / (rt*ct*1.0/n)), 6) AS chi2,
       CAST((count(DISTINCT event_type)-1) * (count(DISTINCT seg)-1) AS BIGINT)
         AS dof
FROM m
"""


def a_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized moments per event_type, EXACT at any scale (r12 fix for
    the 8x percentile-interpolation tie).

    Cutoffs are pure order statistics — the smallest value whose
    cumulative count reaches ceil(p*n), computed with integer ranks over
    the per-type DISTINCT-value counts (bounded by the 3-decimal value
    grid, not the corpus) — so each bound is an actual data value, never
    an interpolated float (Spark `percentile` and DuckDB `quantile_cont`
    interpolate in different op orders, and at 8x the p05 cutoff landed
    ON a duplicated value, flipping n_clipped by that multiplicity).
    Moments accumulate on the milli-grid as exact DECIMAL(38,0) integer
    sums (summation-order- and partition-count-invariant), then one
    fixed IEEE scalar sequence per group — wins_mean/wins_std are
    bit-identical across engines and safe to emit RAW."""
    ev = _t(spark, sf_dir, "events")
    vv = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.round(F.col("value") * 1000.0, 0).cast("long").alias("v3"),
    )
    c = vv.groupBy("event_type", "v3").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("v3")
    wt = Window.partitionBy("event_type")
    cum = c.select(
        "event_type",
        "v3",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wt).alias("n"),
    )
    bounds = cum.groupBy("event_type").agg(
        F.min(
            F.when(F.col("cum") >= F.expr("(n + 19) div 20"), F.col("v3"))
        ).alias("lo3"),
        F.min(
            F.when(F.col("cum") >= F.expr("(19 * n + 19) div 20"), F.col("v3"))
        ).alias("hi3"),
    )
    clip = F.least(F.greatest(F.col("v3"), F.col("lo3")), F.col("hi3"))
    g = (
        vv.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(clip.cast("decimal(38,0)")).alias("s1"),
            # cast-BEFORE-multiply: a LONG*LONG square overflows (and, in
            # non-ANSI Spark, silently wraps) once |value| > ~3.04e6 on
            # the milli-grid, while DuckDB's BIGINT multiply raises.
            # DECIMAL(19,0) operands give a DECIMAL(38,0) product in BOTH
            # engines (two 38s would exceed DuckDB's 38-digit max width)
            F.sum(clip.cast("decimal(19,0)") * clip.cast("decimal(19,0)")).alias(
                "s2"
            ),
            F.count(
                F.when(
                    (F.col("v3") < F.col("lo3")) | (F.col("v3") > F.col("hi3")), 1
                )
            ).alias("n_clipped"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    return g.select(
        "event_type",
        (s1d / F.col("n") / 1000.0).alias("wins_mean"),
        (
            F.sqrt((s2d - s1d * s1d / F.col("n")) / (F.col("n") - 1)) / 1000.0
        ).alias("wins_std"),
        "n_clipped",
    )


A_WINSOR_ORACLE = """
WITH vv AS (
  SELECT event_type, CAST(round(value * 1000) AS BIGINT) AS v3
  FROM events WHERE value IS NOT NULL
), c AS (
  SELECT event_type, v3, count(*) AS cnt FROM vv GROUP BY 1, 2
), cum AS (
  SELECT event_type, v3,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY v3) AS cum,
         sum(cnt) OVER (PARTITION BY event_type) AS n
  FROM c
), b AS (
  SELECT event_type,
         min(CASE WHEN cum >= (n + 19) // 20 THEN v3 END) AS lo3,
         min(CASE WHEN cum >= (19 * n + 19) // 20 THEN v3 END) AS hi3
  FROM cum GROUP BY 1
), g AS (
  SELECT event_type,
         sum(CAST(least(greatest(v3, lo3), hi3) AS DECIMAL(38,0))) AS s1,
         sum(CAST(least(greatest(v3, lo3), hi3) AS DECIMAL(19,0))
             * CAST(least(greatest(v3, lo3), hi3) AS DECIMAL(19,0))) AS s2,
         CAST(count(*) FILTER (WHERE v3 < lo3 OR v3 > hi3) AS BIGINT)
           AS n_clipped,
         count(*) AS n
  FROM vv JOIN b USING (event_type)
  GROUP BY 1
)
SELECT event_type,
       CAST(s1 AS DOUBLE) / n / 1000.0 AS wins_mean,
       sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
            / (n - 1)) / 1000.0 AS wins_std,
       n_clipped
FROM g
"""


def a_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) histogram of event values: bucket membership
    from the DISTRIBUTED global rank (integer arithmetic — ntile's exact
    distribution, no single-partition window, no float boundary error),
    then per-bucket count and value range."""
    from cassandra_fs_pp_spark.operators.stats import global_row_number

    ev = _t(spark, sf_dir, "events").select("value", "event_id")
    ranked = global_row_number(ev, ["value", "event_id"], out_col="rn")
    n = ranked.agg(F.count(F.lit(1)).alias("n"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .withColumn(
            "bucket",
            (F.expr("((rn - 1) * 10) div n") + 1).cast("int"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 3).alias("lo"),
            F.round(F.max("value"), 3).alias("hi"),
        )
    )


A_EQUIDEPTH_ORACLE = """
WITH r AS (
  SELECT value, row_number() OVER (ORDER BY value, event_id) AS rn,
         count(*) OVER () AS n
  FROM events
), b AS (
  SELECT value, CAST(((rn - 1) * 10) // n AS INT) + 1 AS bucket FROM r
)
SELECT bucket, count(*) AS n, round(min(value), 3) AS lo,
       round(max(value), 3) AS hi
FROM b GROUP BY 1
"""


# --------------------------------------------------------------------------
# Contract surface
# --------------------------------------------------------------------------

# --------------------------------------------------------------------------
# Embedding compression (scalar quantization) + ADC search, and the
# deterministic training-export shuffle — new in round 3.
# --------------------------------------------------------------------------

def emb_scalar_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension int8-class scalar quantization of the embedding
    corpus, long form (vec_id, pos, code, dq) — the compression step that
    makes a 100 TB vector store 4x smaller. Narrow 64-key stats agg +
    broadcast-back; fully oracle-checkable (round ties away-from-zero on
    the non-negative scaled value in both engines)."""
    from cassandra_fs_pp_spark.operators.similarity import scalar_quantize

    emb = _t(spark, sf_dir, "embeddings")
    return scalar_quantize(emb)


def ann_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance top-k: fp32 queries (deterministic id-mod
    subset) against the dequantized scalar-quantized corpus — serving
    shape for compressed vector stores. Linear in corpus size for the
    fixed query set (not all-pairs)."""
    from cassandra_fs_pp_spark.operators.similarity import adc_topk

    emb = _t(spark, sf_dir, "embeddings")
    return adc_topk(emb)


def curation_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + shard assignment for training-data
    export (md5-hash order, no RNG): (doc_id, shard, shard_pos)."""
    from cassandra_fs_pp_spark.functions.curation import shuffle_shard

    docs = _t(spark, sf_dir, "documents")
    return shuffle_shard(docs, "doc_id", shards=8)


_SQ_CODE_SQL = (
    "CASE WHEN mx = mn THEN 0 ELSE "
    "CAST(round(((v - mn) / (mx - mn)) * CAST(255 AS DOUBLE)) AS INT) END"
)
_SQ_DQ_SQL = (
    f"mn + CAST({_SQ_CODE_SQL} AS DOUBLE) * ((mx - mn) / CAST(255 AS DOUBLE))"
)

EMB_SQ_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, CAST(i AS INT) AS pos, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, range(1, 65) t(i)
), st AS (
  SELECT pos, min(v) AS mn, max(v) AS mx FROM ex GROUP BY pos
)
SELECT ex.vec_id, ex.pos, {_SQ_CODE_SQL} AS code, {_SQ_DQ_SQL} AS dq
FROM ex JOIN st USING (pos)
"""

ANN_ADC_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, CAST(i AS INT) AS pos, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, range(1, 65) t(i)
), st AS (
  SELECT pos, min(v) AS mn, max(v) AS mx FROM ex GROUP BY pos
), cdq AS (
  SELECT ex.vec_id, ex.pos, {_SQ_DQ_SQL} AS dq
  FROM ex JOIN st USING (pos)
), corpus AS (
  SELECT vec_id AS neighbor_id, list(dq ORDER BY pos) AS dqv
  FROM cdq GROUP BY vec_id
), corpus_n AS (
  SELECT neighbor_id, dqv, sqrt(list_dot_product(dqv, dqv)) AS nn
  FROM corpus
), q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS qn
  FROM embeddings WHERE vec_id % 37 = 0
), scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, dqv) / (qn * nn) AS cosine
  FROM q, corpus_n WHERE query_id <> neighbor_id
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 5
"""

def ann_ivf_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + ADC + exact rerank (FAISS IVF,SQ8 serving shape): centroid
    probe prunes cells, asymmetric distance scores the dequantized int8
    codes, fp32 rerank of the top-20 survivors yields the final top-5.
    Every boundary is cross-engine exact (bit-identical dq codes and
    left-fold dot products; neighbor_id tie-breaks), so this composition
    carries a FULL oracle. New in r11 (VERDICT r10 item 4)."""
    from cassandra_fs_pp_spark.operators.similarity import ivf_adc_topk

    emb = _t(spark, sf_dir, "embeddings", spread=False)
    return ivf_adc_topk(emb, k=5, nprobe=2, rerank=20)


def ann_ivf_adc_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-query-budget twin of ``ann_ivf_adc_topk`` (VERDICT r11 item
    6, bench-only): the registry form's ``id % 37`` query set grows with
    the corpus, so its bench number mixes corpus growth into the query
    batch; this twin serves a CONSTANT 162-query budget (``vec_id <
    162``) against the growing compressed corpus — the O(|q| · n/cells)
    100 TB serving shape SCALE.md probes. Not in ``queries()``: it is
    the same operator under a different load profile, and its
    correctness is pinned by the registry form's full oracle; membership
    here is performance-tracking only (``bench_extras``)."""
    from cassandra_fs_pp_spark.operators.similarity import ivf_adc_topk

    emb = _t(spark, sf_dir, "embeddings", spread=False)
    return ivf_adc_topk(emb, k=5, nprobe=2, rerank=20, fixed_queries=162)


def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + product quantization + exact rerank (FAISS IVF,PQ — the
    canonical 100 TB ANN compression, r13/VERDICT r12 item 5): m=8
    subspace codebooks of ks=8 centroids each (trained with the proven
    fixed-point Lloyd machinery, 2 rounds), per-row code assignment and
    LUT reconstruction as literal expressions — the corpus side is ONE
    narrow whole-stage-codegen scan whose only join is the broadcast
    |cells|-row centroid table (strictly better shape than the SQ8 ADC
    path).  r14 (VERDICT r13 item 3): codes quantize the RESIDUAL
    ``x - centroid(cell)`` — what FAISS IVF,PQ actually encodes — and
    the coarse centroids are exact fixed-point means (r13 ADVICE: a
    double avg() is summation-order dependent; a ulp flip in cent_cos
    can change which cells are probed).  Full oracle: training replayed
    as unrolled CTEs (the emb_kmeans_assign class), probe/ADC/rerank
    boundaries all tie on neighbor_id."""
    from cassandra_fs_pp_spark.operators.similarity import ivf_pq_topk

    emb = _t(spark, sf_dir, "embeddings", spread=False)
    return ivf_pq_topk(emb, m=8, ks=8, iterations=2, k=5, nprobe=2, rerank=40)


_PQ_CB_CACHE: dict[str, tuple] = {}


def ann_ivf_pq_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-query-budget twin of ``ann_ivf_pq_topk`` (bench-only, same
    rationale as ``ann_ivf_adc_serving``): a CONSTANT 162-query batch
    against the growing PQ-compressed corpus — the O(|q| * n/cells)
    serving shape. Codebooks come from a per-``sf_dir`` process cache
    (OFFLINE-trained in production — FAISS never retrains per query
    batch; training is deterministic so the cached table is
    bit-identical to a fresh one), so the tracked number measures the
    serving scan, not the training loop the registry form already
    times. r14: the cached index is (coarse-centroid table, residual
    codebooks) — both offline artifacts in FAISS IVF,PQ — so serving
    skips the centroid corpus scan too and stays at two corpus scans
    (encode + rerank). Correctness rides on the registry form's full
    oracle."""
    from cassandra_fs_pp_spark.operators.similarity import (
        coarse_centroids,
        ivf_pq_topk,
        pq_train_codebooks,
        residualize,
    )

    emb = _t(spark, sf_dir, "embeddings", spread=False)
    cached = _PQ_CB_CACHE.get(sf_dir)
    if cached is None:
        cent = coarse_centroids(emb)
        cent_rows = [
            (r["cell"], [float(x) for x in r["centroid"]])
            for r in cent.collect()
        ]
        cb = pq_train_codebooks(
            residualize(emb, cent), vec_col="rvec", m=8, ks=8, iterations=2
        )
        cached = (cent_rows, cb)
        _PQ_CB_CACHE[sf_dir] = cached
    cent_rows, cb = cached
    return ivf_pq_topk(
        emb, m=8, ks=8, iterations=2, k=5, nprobe=2, rerank=40,
        fixed_queries=162, codebooks=cb, centroids=cent_rows,
    )


def bench_extras() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Bench-only load-profile twins of oracled registry operators —
    consumed by bench.py in addition to ``queries()``; NOT part of the
    driver correctness contract (each twin's operator is oracled via its
    registry form)."""
    return {
        "ann_ivf_adc_serving": ann_ivf_adc_serving,
        "ann_ivf_pq_serving": ann_ivf_pq_serving,
        "curation_semdecon_fixed_eval": curation_semdecon_fixed_eval,
        "curation_pretrain_oneplan": curation_pretrain_oneplan,
    }


def curation_semdecon_fixed_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only serving twin of ``curation_semantic_decontaminate``
    with the eval side PINNED to the base-corpus ids (vec_id below the
    probe shift stride): the registry form's %41 eval set grows with
    the probe corpus, so its probe ratio reflects |corpus|x|eval| both
    growing — but a real pipeline's eval benchmarks are FIXED while the
    corpus scales, which is this twin's O(|corpus|) shape (the
    ``ann_*_serving`` fixed-budget pattern). Oracled via the registry
    form."""
    from cassandra_fs_pp_spark.operators.similarity import (
        semantic_decontaminate,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_decontaminate(
        emb.filter(F.col("vec_id") % SEMDECON_EVAL_MOD != 0),
        emb.filter(
            (F.col("vec_id") % SEMDECON_EVAL_MOD == 0)
            # pinning eval to the UNSHIFTED base ids is this twin's entire
            # point — eval stays fixed while the probe corpus grows (the
            # ann_*_serving fixed-budget pattern)
            & (F.col("vec_id") < 10_000_000)  # id-magnitude-ok
        ),
        tau=SEMDECON_TAU,
    )


def _ivf_pq_sql(
    *,
    dim: int = 64,
    m: int = 8,
    ks: int = 8,
    iterations: int = 2,
    k: int = 5,
    nprobe: int = 2,
    rerank: int = 40,
    query_mod: int = 37,
) -> str:
    """Full SQL replay of ``ann_ivf_pq_topk``: per-subspace Lloyd rounds
    unrolled as CTEs (the ``EMB_KMEANS_ORACLE`` class, long-form over all
    m subspaces at once), final code assignment, PQ reconstruction via
    join-back to the trained centroids, then the same probe/ADC/rerank
    tail as ``ANN_IVF_ADC_ORACLE``.  Every arithmetic step mirrors the
    engine's op order: quantized integer distances, exact fixed-point
    means (sum->DOUBLE / 1e9 / n), left-fold dots, lowest-code ties.
    r14: coarse centroids lead (fixed-point mean, mirroring
    ``coarse_centroids``), training/encoding runs on the RESIDUAL
    ``x - centroid(cell)``, and the ADC vector is
    ``centroid + reconstruct(codes)``."""
    dsub = dim // m

    def dist(v: str, cv: str) -> str:
        return (
            f"list_reduce(list_prepend(CAST(0 AS BIGINT),"
            f" list_transform(range(1, {dsub + 1}), i ->"
            f" CAST(round(({v}[i] - {cv}[i]) * ({v}[i] - {cv}[i])"
            f" * 1000000000) AS BIGINT))), (a, t) -> a + t)"
        )

    head = f"""
WITH cent AS (
  SELECT label AS cell, i AS pos,
         CAST(sum(CAST(round(embedding[i]::DOUBLE * 1000000000) AS BIGINT))
              AS DOUBLE) / 1000000000.0 / count(*) AS mc
  FROM embeddings, range(1, {dim + 1}) t(i)
  GROUP BY label, i),
cvec AS MATERIALIZED (
  SELECT cell, list(mc ORDER BY pos) AS centroid FROM cent GROUP BY cell),
e AS (
  SELECT e0.vec_id, e0.label AS cell, cv.centroid,
         list_transform(range(1, {dim + 1}),
                        i -> e0.embedding[i]::DOUBLE - cv.centroid[i]) AS x
  FROM embeddings e0 JOIN cvec cv ON cv.cell = e0.label),
sv AS MATERIALIZED (
  SELECT vec_id, j, x[(j*{dsub}+1):(j*{dsub}+{dsub})] AS v
  FROM e, range(0, {m}) t(j)),
c0 AS (SELECT j, vec_id AS c, v AS cv FROM sv WHERE vec_id < {ks})"""
    rounds = []
    for r in range(1, iterations + 1):
        rounds.append(f""",
a{r} AS (
  SELECT vec_id, j, c FROM (
    SELECT sv.vec_id, sv.j, cc.c,
           row_number() OVER (PARTITION BY sv.vec_id, sv.j
                              ORDER BY {dist('sv.v', 'cc.cv')}, cc.c) AS rn
    FROM sv JOIN c{r - 1} cc ON cc.j = sv.j) WHERE rn = 1),
m{r} AS (
  SELECT a.j, a.c, u.i AS p,
         CAST(sum(CAST(round(sv.v[u.i] * 1000000000) AS BIGINT)) AS DOUBLE)
           / 1000000000.0 / count(*) AS mv
  FROM a{r} a JOIN sv ON sv.vec_id = a.vec_id AND sv.j = a.j,
       range(1, {dsub + 1}) u(i)
  GROUP BY a.j, a.c, u.i),
m{r}l AS (SELECT j, c, list(mv ORDER BY p) AS cv FROM m{r} GROUP BY j, c),
c{r} AS (SELECT p.j, p.c, coalesce(n.cv, p.cv) AS cv
         FROM c{r - 1} p LEFT JOIN m{r}l n ON n.j = p.j AND n.c = p.c)""")
    fin = iterations
    tail = f""",
codes AS (
  SELECT vec_id, j, c FROM (
    SELECT sv.vec_id, sv.j, cc.c,
           row_number() OVER (PARTITION BY sv.vec_id, sv.j
                              ORDER BY {dist('sv.v', 'cc.cv')}, cc.c) AS rn
    FROM sv JOIN c{fin} cc ON cc.j = sv.j) WHERE rn = 1),
pq AS (
  SELECT codes.vec_id, flatten(list(cc.cv ORDER BY codes.j)) AS rrec
  FROM codes JOIN c{fin} cc ON cc.j = codes.j AND cc.c = codes.c
  GROUP BY codes.vec_id),
corpus_n AS (
  SELECT neighbor_id, pqv, sqrt(list_dot_product(pqv, pqv)) AS nn, cell
  FROM (
    SELECT pq.vec_id AS neighbor_id, e2.cell,
           list_transform(range(1, {dim + 1}),
                          i -> e2.centroid[i] + pq.rrec[i]) AS pqv
    FROM pq JOIN e e2 ON e2.vec_id = pq.vec_id)),
q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS qn
  FROM embeddings WHERE vec_id % {query_mod} = 0),
probes AS (
  SELECT query_id, qv, qn, cell FROM (
    SELECT q.query_id, q.qv, q.qn, c.cell,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_dot_product(q.qv, c.centroid)
                    / (q.qn * sqrt(list_dot_product(c.centroid, c.centroid)))
                      DESC,
                      c.cell) AS cr
    FROM q CROSS JOIN cvec c
  ) WHERE cr <= {nprobe}),
surv AS (
  SELECT query_id, qv, qn, neighbor_id FROM (
    SELECT p.query_id, p.qv, p.qn, n.neighbor_id,
           row_number() OVER (
             PARTITION BY p.query_id
             ORDER BY list_dot_product(p.qv, n.pqv) / (p.qn * n.nn) DESC,
                      n.neighbor_id) AS ar
    FROM probes p
    JOIN corpus_n n ON n.cell = p.cell AND n.neighbor_id <> p.query_id
  ) WHERE ar <= {rerank}),
exact AS (
  SELECT s.query_id, s.neighbor_id,
         list_dot_product(s.qv, e3.embedding::DOUBLE[])
           / (s.qn * sqrt(list_dot_product(e3.embedding::DOUBLE[],
                                           e3.embedding::DOUBLE[]))) AS cosine
  FROM surv s JOIN embeddings e3 ON e3.vec_id = s.neighbor_id)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM exact
) WHERE rank <= {k}
"""
    return head + "".join(rounds) + tail


ANN_IVF_PQ_ORACLE = _ivf_pq_sql()


ANN_IVF_ADC_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, CAST(i AS INT) AS pos, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, range(1, 65) t(i)
), st AS (
  SELECT pos, min(v) AS mn, max(v) AS mx FROM ex GROUP BY pos
), cdq AS (
  SELECT ex.vec_id, ex.pos, {_SQ_DQ_SQL} AS dq
  FROM ex JOIN st USING (pos)
), corpus AS (
  SELECT vec_id AS neighbor_id, list(dq ORDER BY pos) AS dqv
  FROM cdq GROUP BY vec_id
), corpus_n AS (
  SELECT c.neighbor_id, c.dqv,
         sqrt(list_dot_product(c.dqv, c.dqv)) AS nn,
         e.label AS cell
  FROM corpus c JOIN embeddings e ON e.vec_id = c.neighbor_id
), cent AS (
  SELECT label AS cell, i AS pos,
         CAST(sum(CAST(round(embedding[i]::DOUBLE * 1000000000) AS BIGINT))
              AS DOUBLE) / 1000000000.0 / count(*) AS m
  FROM embeddings, range(1, 65) t(i)
  GROUP BY label, i
), cvec AS (
  SELECT cell, list(m ORDER BY pos) AS centroid FROM cent GROUP BY cell
), q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS qn
  FROM embeddings WHERE vec_id % 37 = 0
), probes AS (
  SELECT query_id, qv, qn, cell FROM (
    SELECT q.query_id, q.qv, q.qn, c.cell,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_dot_product(q.qv, c.centroid)
                    / (q.qn * sqrt(list_dot_product(c.centroid, c.centroid)))
                      DESC,
                      c.cell) AS cr
    FROM q CROSS JOIN cvec c
  ) WHERE cr <= 2
), surv AS (
  SELECT query_id, qv, qn, neighbor_id FROM (
    SELECT p.query_id, p.qv, p.qn, n.neighbor_id,
           row_number() OVER (
             PARTITION BY p.query_id
             ORDER BY list_dot_product(p.qv, n.dqv) / (p.qn * n.nn) DESC,
                      n.neighbor_id) AS ar
    FROM probes p
    JOIN corpus_n n ON n.cell = p.cell AND n.neighbor_id <> p.query_id
  ) WHERE ar <= 20
), exact AS (
  SELECT s.query_id, s.neighbor_id,
         list_dot_product(s.qv, e.embedding::DOUBLE[])
           / (s.qn * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                           e.embedding::DOUBLE[]))) AS cosine
  FROM surv s JOIN embeddings e ON e.vec_id = s.neighbor_id
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM exact
) WHERE rank <= 5
"""


CURATION_SHUFFLE_ORACLE = """
WITH k AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shuffle7'), 1, 15))::BIGINT
           AS kk
  FROM documents
)
SELECT doc_id, CAST(kk % 8 AS INT) AS shard,
       CAST(row_number() OVER (PARTITION BY kk % 8 ORDER BY kk, doc_id) AS INT)
         AS shard_pos
FROM k
"""


def curation_quality_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (the fasttext/logreg stage): linear
    bag-of-words scoring with hash-derived milli-weights, keep above 0.
    Integer sum + one exact final division — full bit-exact oracle."""
    from cassandra_fs_pp_spark.functions.curation import quality_model_score

    return quality_model_score(_t(spark, sf_dir, "documents"))


CURATION_QUALITY_LOGREG_ORACLE = r"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     t -> t <> '') AS toks
  FROM documents
), w AS (
  SELECT doc_id,
         CAST(len(toks) AS INT) AS n_tokens,
         (SELECT CAST(COALESCE(SUM(
             ('0x' || substr(md5(t.w), 1, 15))::BIGINT % 2001 - 1000), 0) AS BIGINT)
          FROM unnest(toks) AS t(w)) AS w_sum_milli
  FROM tok
)
SELECT doc_id, n_tokens, w_sum_milli,
       CASE WHEN n_tokens > 0
            THEN CAST(w_sum_milli AS DOUBLE) / (1000.0 * n_tokens) END AS score,
       CASE WHEN n_tokens > 0
            THEN CAST(w_sum_milli AS DOUBLE) / (1000.0 * n_tokens) END > 0.0
         AS keep
FROM w
"""


def curation_logreg_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED quality classifier (pays off quality_model_score's
    "swap in real trained weights" promise): 3 rounds of full-batch
    logistic-regression gradient descent on hashed-unigram token-
    fraction features (64 buckets + bias), labels = src0/src1 vs the
    pool, then top-400 documents by trained score. All rounding in
    Spark SQL (micro fixed-point), per-round driver traffic = the
    65-row update vector — the k-means/PQ codebook pattern; the oracle
    replays training as unrolled CTE rounds."""
    from cassandra_fs_pp_spark.functions.curation import logreg_train_select

    return logreg_train_select(_t(spark, sf_dir, "documents"))


def _logreg_oracle_sql(
    buckets: int = 64,
    rounds: int = 3,
    lr_div: int = 65536,
    top_k: int = 400,
) -> str:
    """Unrolled-GD replay of ``logreg_train_select``: one CTE pair
    (margin z{r} / residual g{r}) plus a weight-update CTE w{r} per
    round, operation-for-operation the Spark arithmetic (BIGINT sums,
    double divides, round half-away) so the hash comparison is exact."""
    b = int(buckets)
    # the gradient sum is explicitly 128-bit (HUGEINT), mirroring the
    # Spark side's decimal(38,0) accumulator (ADVICE r14: per-doc terms
    # reach 1e12, so a 64-bit sum wraps past ~9.2M docs per bucket)
    upd = (
        "CAST(round(CAST(sum(CAST(g{r}.g AS HUGEINT) * f.f) AS DOUBLE)"
        f" / ((SELECT nd FROM nn) * {int(lr_div)}.0)) AS BIGINT)"
    )
    parts = [
        rf"""WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     w -> w <> '') AS t
  FROM documents),
base AS (
  SELECT doc_id, source IN ('src0', 'src1') AS y, t, len(t) AS n
  FROM toks WHERE len(t) > 0),
ex AS (
  SELECT doc_id, y, n,
         ('0x' || substr(md5(w), 1, 15))::BIGINT % {b} AS bucket
  FROM (SELECT doc_id, y, n, unnest(t) AS w FROM base)),
uni AS (
  SELECT doc_id, y, n, bucket,
         CAST(round(1e6 * count(*) / n) AS BIGINT) AS f
  FROM ex GROUP BY doc_id, y, n, bucket),
feats AS (
  SELECT doc_id, y, n, bucket, f FROM uni
  UNION ALL
  SELECT doc_id, y, n, CAST({b} AS BIGINT), CAST(1000000 AS BIGINT)
  FROM base),
nn AS (SELECT count(*) AS nd FROM base),
g1 AS (
  SELECT doc_id,
         CAST(round((0.5 - (CASE WHEN y THEN 1.0 ELSE 0.0 END)) * 1e6)
              AS BIGINT) AS g
  FROM base),
w1 AS (
  SELECT f.bucket, 0 - {upd.format(r=1)} AS w
  FROM feats f JOIN g1 USING (doc_id) GROUP BY f.bucket)"""
    ]
    for r in range(2, int(rounds) + 1):
        parts.append(
            f""",
z{r} AS (
  SELECT f.doc_id, f.y, CAST(sum(w{r - 1}.w * f.f) AS BIGINT) AS z
  FROM feats f JOIN w{r - 1} USING (bucket) GROUP BY f.doc_id, f.y),
g{r} AS (
  SELECT doc_id,
         CAST(round((1.0 / (1.0 + exp(-(CAST(z AS DOUBLE) / 1e12)))
              - (CASE WHEN y THEN 1.0 ELSE 0.0 END)) * 1e6) AS BIGINT) AS g
  FROM z{r}),
w{r} AS (
  SELECT f.bucket, any_value(w{r - 1}.w) - {upd.format(r=r)} AS w
  FROM feats f JOIN g{r} USING (doc_id) JOIN w{r - 1} USING (bucket)
  GROUP BY f.bucket)"""
        )
    parts.append(
        f""",
zf AS (
  SELECT f.doc_id, f.y, f.n, CAST(sum(w{int(rounds)}.w * f.f) AS BIGINT) AS z
  FROM feats f JOIN w{int(rounds)} USING (bucket)
  GROUP BY f.doc_id, f.y, f.n)
SELECT doc_id, y AS is_target, n AS n_tok, z AS score12,
       CAST(z AS DOUBLE) / 1e12 AS score, z > 0 AS pred_target
FROM zf
ORDER BY z DESC, doc_id
LIMIT {int(top_k)}"""
    )
    return "".join(parts)


CURATION_LOGREG_TRAINED_ORACLE = _logreg_oracle_sql()


def text_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters (the other half of
    curation_gopher_flags): per-doc most-common-bigram occurrence
    fraction and duplicated-5-gram occurrence fraction, flagged against
    0.08 / 0.20. Exact-integer numerators/denominators, two explodes +
    hash aggs + one doc_id join."""
    from cassandra_fs_pp_spark.functions.curation import repetition_flags

    return repetition_flags(_t(spark, sf_dir, "documents"))


TEXT_REPETITION_FLAGS_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents),
g2 AS (
  SELECT doc_id, array_to_string(t[i:i+1], ' ') AS gram
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2),
c2 AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c FROM g2 GROUP BY 1, 2),
s2 AS (
  SELECT doc_id, CAST(max(c) AS BIGINT) AS m2, CAST(sum(c) AS BIGINT) AS t2
  FROM c2 GROUP BY 1),
g5 AS (
  SELECT doc_id, array_to_string(t[i:i+4], ' ') AS gram
  FROM toks, UNNEST(generate_series(1, len(t) - 4)) AS u(i)
  WHERE len(t) >= 5),
c5 AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c FROM g5 GROUP BY 1, 2),
s5 AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS d5,
         CAST(sum(c) AS BIGINT) AS t5
  FROM c5 GROUP BY 1)
SELECT doc_id, m2, t2, d5, t5,
       CAST(m2 AS DOUBLE) / CAST(t2 AS DOUBLE) AS top_bigram_frac,
       CAST(d5 AS DOUBLE) / CAST(t5 AS DOUBLE) AS dup_5gram_frac,
       CAST(m2 AS DOUBLE) / CAST(t2 AS DOUBLE) > 0.08 AS rep_top2_flag,
       CAST(d5 AS DOUBLE) / CAST(t5 AS DOUBLE) > 0.2 AS rep_dup5_flag
FROM s2 JOIN s5 USING (doc_id)
"""


SEMDECON_TAU = 0.30
SEMDECON_EVAL_MOD = 41


def curation_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: max cosine of every corpus
    vector against the (small, broadcast) eval subset, contaminated
    when >= 0.30 — the semantic complement to the n-gram
    curation_decontaminate (catches paraphrased leakage that shares no
    8-gram). Exact by design: eval sets are bounded, so broadcast +
    map-side reduce IS the 100 TB plan."""
    from cassandra_fs_pp_spark.operators.similarity import (
        semantic_decontaminate,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_decontaminate(
        emb.filter(F.col("vec_id") % SEMDECON_EVAL_MOD != 0),
        emb.filter(F.col("vec_id") % SEMDECON_EVAL_MOD == 0),
        tau=SEMDECON_TAU,
    )


CURATION_SEMDECON_ORACLE = f"""
WITH ev AS (
  SELECT vec_id AS eval_id, embedding FROM embeddings
  WHERE vec_id % {SEMDECON_EVAL_MOD} = 0),
pairs AS (
  SELECT c.vec_id, ev.eval_id,
         list_dot_product(c.embedding::DOUBLE[], ev.embedding::DOUBLE[])
         / (sqrt(list_dot_product(c.embedding::DOUBLE[],
                                  c.embedding::DOUBLE[]))
          * sqrt(list_dot_product(ev.embedding::DOUBLE[],
                                  ev.embedding::DOUBLE[]))) AS max_cos
  FROM embeddings c CROSS JOIN ev
  WHERE c.vec_id % {SEMDECON_EVAL_MOD} <> 0)
SELECT vec_id, eval_id AS nearest_eval_id, max_cos,
       max_cos >= {SEMDECON_TAU} AS contaminated
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY vec_id ORDER BY max_cos DESC, eval_id) AS rn
  FROM pairs
) WHERE rn = 1
"""


PIPE_EVAL_MOD, PIPE_CTX, PIPE_SHARDS = 53, 512, 8
# 2 bands x 8 rows: the fuzzy-dedup operating point (collision needs
# J^8 agreement in one band ~ J >= 0.8); the standalone dedup query's
# 4x4 banding is tuned for its synthetic near-dup corpus and collapses
# this templated table 500 -> 12 (measured), starving every later stage
PIPE_MINHASH_BANDS = 2


def curation_pretrain_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE end-to-end pretraining curation flagship (VERDICT r14 item
    7): the full modern chain, staged at three survivor-set reuse
    boundaries (the production stage-to-storage shape; see "Barrier
    form" below) —

    1. MinHash-LSH cluster dedup (16 hashes / 2 bands of 8), keep
       each cluster's min-id representative;
    2. Gopher quality rules (word count / mean word length / stopword
       ratio) AND Gopher repetition rules (top-bigram, dup-5-gram);
    3. decontamination vs the held-out eval split (doc_id %
       {PIPE_EVAL_MOD} == 0): 8-GRAM overlap (anti-join on broadcast
       eval gram hashes) AND SEMANTIC (max cosine vs the broadcast eval
       embeddings >= tau — paraphrased leakage shares no 8-gram);
    4. DSIR importance scoring (hashed unigram+bigram features) +
       temperature-mixture selection: per-source quota
       ``ceil(sqrt(n_s * n_max) / 2)`` (alpha=0.5 flattening with a
       max-normalized closed form — sqrt/divide/ceil are all IEEE
       exact-rounded, so the quota boundary is cross-engine exact,
       where a pow()-based share would hang it on libm ulps), keeping
       each source's top-quota docs by importance;
    5. sequence packing into 512-token context windows over the global
       (source, doc_id) order — per-source window cumsum + #sources-row
       carry-in offsets (two-level prefix entirely in Catalyst);
    6. deterministic shuffle-shard (8 shards, md5 order).

    No operator boundary forces a materialization WITHIN a stage: every
    stage is lazy composition, and the three barriers (post-repetition,
    post-decontamination, post-selection) sit exactly where each
    survivor set gains 2+ downstream consumers.

    Barrier form (r16, VERDICT r15 item 1): each reuse boundary is
    ``localCheckpoint`` — the single-process stand-in for staging the
    survivor set to storage, which is how a production curation
    pipeline actually deploys (each stage's output is a dataset the
    next stage reads once). This is the scale-safe shape: a lazy
    ``persist()`` mark bounds re-EXECUTION but not the logical tree —
    with 2+ consumers per boundary the plan embeds each stage's subtree
    once per consumer (~128 copies of the MinHash subtree by the shard
    stage) and Catalyst ANALYSIS alone costs 15-20 s regardless of data
    size, doubling with every further reuse point (SCALE.md r15). The
    one-plan form survives as the bench-only stress twin
    ``curation_pretrain_oneplan`` (identical rows, pytest
    differential); at sf0.1 this staged form runs ~4-5 s vs the
    one-plan's ~20-24 s for row-identical output.

    Output: one row per selected document
    ``(doc_id, source, n_tok, logw_nano, pack_id, shard, shard_pos)``
    — every stage's effect lands in the hash (membership = stages 1-4,
    pack_id = stage 5, shard/shard_pos = stage 6).
    """
    return _pretrain_pipeline_chain(
        # eager=False (r17): the logical plan is truncated identically (the
        # barrier still returns a LogicalRDD leaf, so analysis cost stays
        # bounded), but materialization happens inside the consuming job
        # instead of as three serialized driver-blocking jobs at build time
        # — measured −0.23 s at sf0.1 with rows identical (the checkpoint
        # RDD is computed once; both consumers share the stage).
        spark, sf_dir, lambda df: df.localCheckpoint(eager=False)
    )


def curation_pretrain_oneplan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only ONE-PLAN stress twin of ``curation_pretrain_pipeline``
    (the r15 flagship shape, demoted in r16 per VERDICT r15 item 1):
    the same 6-stage chain with lazy ``persist()`` reuse marks instead
    of staged barriers, so the whole pipeline is ONE Catalyst plan.
    Kept as the composability stress test — it proves no operator in
    the chain FORCES a materialization — and as the measured exhibit of
    why production stages to storage: the logical tree embeds each
    stage's subtree once per downstream consumer (~128 MinHash copies),
    and fixed plan-analysis time dominates its wall at any data size.
    Rows are identical to the flagship (pytest differential); oracled
    via the registry form. The persisted survivor sets are NOT
    unpersisted here (the consuming action happens outside); bench.py
    clears the cache between suite passes so repeated invocations don't
    accumulate InMemoryRelations (ADVICE r15)."""
    from pyspark import StorageLevel

    return _pretrain_pipeline_chain(
        spark,
        sf_dir,
        lambda df: df.persist(StorageLevel.MEMORY_AND_DISK),
    )


def _pretrain_pipeline_chain(
    spark: SparkSession,
    sf_dir: str,
    barrier: "Callable[[DataFrame], DataFrame]",
) -> DataFrame:
    """Shared 6-stage chain behind the flagship and its staged twin;
    ``barrier`` is applied at the three survivor-set reuse boundaries
    (persist = one lazy plan; localCheckpoint = staged deployment)."""
    from cassandra_fs_pp_spark.functions.curation import (
        decontaminate,
        dsir_scores,
        gopher_quality_flags,
        repetition_flags,
        shuffle_shard,
    )
    from cassandra_fs_pp_spark.functions.text import token_count_ws
    from cassandra_fs_pp_spark.operators.similarity import (
        semantic_decontaminate,
    )
    from cassandra_fs_pp_spark.operators.textdedup import (
        lsh_cluster_wide,
        minhash_signatures_wide,
    )

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")

    # -- 1. minhash cluster dedup (keep-first = cluster representative)
    sigs = minhash_signatures_wide(
        docs.select("doc_id", "text"), num_hashes=MINHASH_K
    )
    clusters = lsh_cluster_wide(
        sigs, num_hashes=MINHASH_K, bands=PIPE_MINHASH_BANDS
    )
    s1 = docs.join(
        clusters.filter(~F.col("is_dup")).select("doc_id"), "doc_id"
    )

    # -- 2. Gopher quality band + repetition rules
    flags = gopher_quality_flags(
        F.col("text"), min_mean_wl=3.5, max_mean_wl=4.6
    )
    s2 = s1.filter(
        ~(
            flags["fail_word_count"]
            | flags["fail_mean_word_len"]
            | flags["fail_stopword_ratio"]
        )
    )
    rep_keep = repetition_flags(s2).filter(
        ~F.col("rep_top2_flag") & ~F.col("rep_dup5_flag")
    )
    s2 = barrier(s2.join(rep_keep.select("doc_id"), "doc_id"))

    # -- 3a. 8-gram decontamination vs the held-out eval split
    train = s2.filter(F.col("doc_id") % PIPE_EVAL_MOD != 0)
    evald = docs.filter(F.col("doc_id") % PIPE_EVAL_MOD == 0)
    hits = decontaminate(train, evald, n=8)
    s3 = train.join(hits.select("doc_id"), "doc_id", "left_anti")

    # -- 3b. semantic decontamination (same eval split's embeddings)
    sem_keep = semantic_decontaminate(
        emb.join(
            s3.select(F.col("doc_id").alias("vec_id")), "vec_id", "leftsemi"
        ),
        emb.filter(F.col("vec_id") % PIPE_EVAL_MOD == 0),
        tau=SEMDECON_TAU,
    ).filter(~F.col("contaminated"))
    s4 = barrier(
        s3.join(sem_keep.select(F.col("vec_id").alias("doc_id")), "doc_id")
    )

    # -- 4. DSIR importance + temperature-mixture per-source quotas
    sel = s4.select(
        "doc_id", "source", token_count_ws(F.col("text")).alias("n_tok")
    ).join(dsir_scores(s4).select("doc_id", "logw_nano"), "doc_id")
    per = sel.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    mx = per.agg(F.max("n_s").alias("n_max"))
    quota = per.crossJoin(F.broadcast(mx)).select(
        "source",
        F.greatest(
            F.lit(1).cast("long"),
            F.ceil(
                F.sqrt((F.col("n_s") * F.col("n_max")).cast("double"))
                / F.lit(2.0)
            ),
        ).alias("q"),
    )
    wsel = Window.partitionBy("source").orderBy(
        F.desc("logw_nano"), F.asc("doc_id")
    )
    kept = barrier(
        sel.join(F.broadcast(quota), "source")
        .withColumn("rk", F.row_number().over(wsel))
        .filter(F.col("rk") <= F.col("q"))
        .select("doc_id", "source", "n_tok", "logw_nano")
    )

    # -- 5. sequence packing over the global (source, doc_id) order:
    # per-source cumsum + #sources-row carry-ins, all in Catalyst
    wloc = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = kept.withColumn(
        "loc", F.sum("n_tok").over(wloc) - F.col("n_tok")
    )
    woff = Window.orderBy("source").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = (
        kept.groupBy("source")
        .agg(F.sum("n_tok").alias("stot"))
        .withColumn("off", F.coalesce(F.sum("stot").over(woff), F.lit(0)))
        .select("source", "off")
    )
    packed = local.join(F.broadcast(offs), "source").withColumn(
        "pack_id",
        F.floor((F.col("loc") + F.col("off")) / F.lit(PIPE_CTX)).cast(
            "long"
        ),
    )

    # -- 6. deterministic shuffle-shard
    sh = shuffle_shard(
        packed.select("doc_id"), "doc_id", shards=PIPE_SHARDS
    )
    return packed.join(sh, "doc_id").select(
        "doc_id",
        "source",
        "n_tok",
        "logw_nano",
        "pack_id",
        "shard",
        "shard_pos",
    )


def _pretrain_pipeline_sql() -> str:
    """Nested-CTE replay of ``curation_pretrain_pipeline`` — each stage
    is the same SQL its standalone oracle uses (minhash cluster =
    ``_minhash_cluster_sql``'s ladder, repetition =
    ``TEXT_REPETITION_FLAGS_ORACLE``'s grams, 8-gram decon =
    ``CURATION_DECONTAM_ORACLE``'s hash60 grams, semantic decon =
    ``CURATION_SEMDECON_ORACLE``'s list_dot_product, DSIR =
    ``CURATION_DSIR_ORACLE``'s nano-nat lambda table, pack =
    ``CURATION_PACK_ORACLE``'s cumsum, shard =
    ``CURATION_SHUFFLE_ORACLE``'s md5 order)."""
    perms = ", ".join(
        f"({k}, {a}, {b})" for k, a, b in minhash_perms(MINHASH_K)
    )
    rpb = MINHASH_K // PIPE_MINHASH_BANDS
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS w
  FROM documents),
h AS (
  SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT % 2147483647 AS hw
  FROM tok),
perms(k, a, b) AS (VALUES {perms}),
sig AS (
  SELECT doc_id, k, min((a * hw + b) % 2147483647) AS mh
  FROM h CROSS JOIN perms GROUP BY doc_id, k),
banded AS (
  SELECT doc_id, CAST(k // {rpb} AS INT) AS band,
         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY k) AS band_sig
  FROM sig GROUP BY doc_id, CAST(k // {rpb} AS INT)),
bucket AS (
  SELECT band, band_sig, min(doc_id) AS bucket_rep
  FROM banded GROUP BY band, band_sig),
clus AS (
  SELECT b.doc_id, min(k.bucket_rep) AS rep
  FROM banded b JOIN bucket k USING (band, band_sig)
  GROUP BY b.doc_id),
s1 AS (
  SELECT d.* FROM documents d
  JOIN clus c ON c.doc_id = d.doc_id AND c.rep = d.doc_id),
t2 AS (
  SELECT doc_id, source, text,
         string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM s1),
m2 AS (
  SELECT doc_id, source, text, t, len(t) AS wc,
         CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t)
           AS mwl,
         CAST(len(list_filter(t, x -> x IN
              ('the','a','of','and','to','in','is','it','that','for')))
              AS DOUBLE) / len(t) AS swr
  FROM t2),
q2 AS MATERIALIZED (
  SELECT doc_id, source, text, t FROM m2
  WHERE wc BETWEEN 20 AND 80 AND mwl BETWEEN 3.5 AND 4.6 AND swr >= 0.02),
rg2 AS (
  SELECT doc_id, array_to_string(t[i:i+1], ' ') AS gram
  FROM q2, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2),
rc2 AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c
        FROM rg2 GROUP BY 1, 2),
rs2 AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS m2c,
               CAST(sum(c) AS BIGINT) AS t2c
        FROM rc2 GROUP BY 1),
rg5 AS (
  SELECT doc_id, array_to_string(t[i:i+4], ' ') AS gram
  FROM q2, UNNEST(generate_series(1, len(t) - 4)) AS u(i)
  WHERE len(t) >= 5),
rc5 AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c
        FROM rg5 GROUP BY 1, 2),
rs5 AS (SELECT doc_id,
               CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS d5,
               CAST(sum(c) AS BIGINT) AS t5
        FROM rc5 GROUP BY 1),
repkeep AS (
  SELECT rs2.doc_id FROM rs2 JOIN rs5 USING (doc_id)
  WHERE NOT (CAST(m2c AS DOUBLE) / CAST(t2c AS DOUBLE) > 0.08)
    AND NOT (CAST(d5 AS DOUBLE) / CAST(t5 AS DOUBLE) > 0.2)),
s2 AS MATERIALIZED (
  SELECT q2.* FROM q2 JOIN repkeep USING (doc_id)),
tr AS (SELECT * FROM s2 WHERE doc_id % {PIPE_EVAL_MOD} <> 0),
evg AS (
  SELECT DISTINCT
         ('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15))::BIGINT
           AS gram_hash
  FROM (SELECT string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents WHERE doc_id % {PIPE_EVAL_MOD} = 0),
       UNNEST(generate_series(1, len(t) - 7)) AS u(i)
  WHERE len(t) >= 8),
contam8 AS (
  SELECT DISTINCT g.doc_id
  FROM (SELECT doc_id,
               ('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15))::BIGINT
                 AS gram_hash
        FROM tr, UNNEST(generate_series(1, len(t) - 7)) AS u(i)
        WHERE len(t) >= 8) g
  JOIN evg USING (gram_hash)),
s3 AS (
  SELECT tr.* FROM tr ANTI JOIN contam8 USING (doc_id)),
evv AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id % {PIPE_EVAL_MOD} = 0),
s4 AS MATERIALIZED (
  SELECT s3.* FROM s3 JOIN embeddings c ON c.vec_id = s3.doc_id
  WHERE NOT EXISTS (
    SELECT 1 FROM evv e
    WHERE list_dot_product(c.embedding::DOUBLE[], e.embedding::DOUBLE[])
          / (sqrt(list_dot_product(c.embedding::DOUBLE[],
                                   c.embedding::DOUBLE[]))
           * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                   e.embedding::DOUBLE[])))
          >= {SEMDECON_TAU})),
dt AS MATERIALIZED (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     w -> w <> '') AS t
  FROM s4),
dfe AS MATERIALIZED (
  SELECT doc_id, source, unnest(t) AS w FROM dt
  UNION ALL
  SELECT doc_id, source, t[i] || ' ' || t[i + 1] AS w
  FROM dt, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2),
fex AS MATERIALIZED (
  SELECT doc_id, source IN ('src0', 'src1') AS is_t,
         ('0x' || substr(md5(w), 1, 15))::BIGINT % 512 AS bucket
  FROM dfe),
cnt AS (
  SELECT bucket,
         CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
         CAST(sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS n_r
  FROM fex GROUP BY 1),
tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS t, CAST(sum(n_r) AS BIGINT) AS r
        FROM cnt),
lam AS (
  SELECT bucket,
         CAST(round(ln(CAST((n_t + 1) * (tot.r + 512) AS DOUBLE)
                       / CAST((n_r + 1) * (tot.t + 512) AS DOUBLE)) * 1e9)
              AS BIGINT) AS lam_nano
  FROM cnt CROSS JOIN tot),
scored AS (
  SELECT fex.doc_id, CAST(sum(lam_nano) AS BIGINT) AS logw_nano
  FROM fex JOIN lam USING (bucket)
  GROUP BY 1),
sel AS MATERIALIZED (
  SELECT dt.doc_id, dt.source, CAST(len(dt.t) AS BIGINT) AS n_tok,
         sc.logw_nano
  FROM dt JOIN scored sc USING (doc_id)),
per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM sel GROUP BY 1),
mx AS (SELECT max(n_s) AS n_max FROM per),
quota AS (
  SELECT source,
         greatest(CAST(1 AS BIGINT),
                  CAST(ceil(sqrt(CAST(n_s * n_max AS DOUBLE)) / 2.0)
                       AS BIGINT)) AS q
  FROM per, mx),
kept AS MATERIALIZED (
  SELECT doc_id, source, n_tok, logw_nano FROM (
    SELECT sel.*, quota.q,
           row_number() OVER (PARTITION BY sel.source
                              ORDER BY logw_nano DESC, doc_id) AS rk
    FROM sel JOIN quota USING (source))
  WHERE rk <= q),
packed AS (
  SELECT *,
         CAST(floor((sum(n_tok) OVER (ORDER BY source, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_tok) / {PIPE_CTX}) AS BIGINT) AS pack_id
  FROM kept)
SELECT doc_id, source, n_tok, logw_nano, pack_id,
       CAST(kk % {PIPE_SHARDS} AS INT) AS shard,
       CAST(row_number() OVER (PARTITION BY kk % {PIPE_SHARDS}
                               ORDER BY kk, doc_id) AS INT) AS shard_pos
FROM (
  SELECT p.*,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shuffle7'), 1, 15))::BIGINT
           AS kk
  FROM packed p)
"""


CURATION_PRETRAIN_PIPELINE_ORACLE = _pretrain_pipeline_sql()


EMB_SEMDEDUP_BITS, EMB_SEMDEDUP_SEED = 8, 13


def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup over the embedding column: LSH
    bucket = cluster proxy, min-id representative per bucket, linear and
    single-pass (window min, no joins/pairs)."""
    from cassandra_fs_pp_spark.operators.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings", spread=False)
    return semantic_dedup(
        emb, bits=EMB_SEMDEDUP_BITS, dim=EMB_DIM, seed=EMB_SEMDEDUP_SEED
    )


def _semantic_dedup_sql() -> str:
    from cassandra_fs_pp_spark.operators.similarity import hyperplane_lsh_perms

    planes = hyperplane_lsh_perms(EMB_SEMDEDUP_BITS, EMB_DIM, EMB_SEMDEDUP_SEED)
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], "
        f"[{', '.join(repr(x) for x in plane)}]::DOUBLE[]) >= 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b, plane in enumerate(planes)
    )
    return f"""
WITH b AS (
  SELECT vec_id, CAST({bucket} AS BIGINT) AS bucket FROM embeddings
)
SELECT vec_id, bucket,
       min(vec_id) OVER (PARTITION BY bucket) AS rep_id,
       min(vec_id) OVER (PARTITION BY bucket) <> vec_id AS is_dup
FROM b
"""


def curation_keep_best_in_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real-pipeline compose: fuzzy-dedup clusters × quality model —
    keep the HIGHEST-QUALITY doc of each near-dup cluster (not the
    arbitrary min-id one).  MinHash-LSH cluster assignment (linear,
    single-pass) joined to the hashed-logreg score, argmax per cluster
    via one window."""
    from cassandra_fs_pp_spark.functions.curation import quality_model_score
    from cassandra_fs_pp_spark.operators.textdedup import (
        lsh_cluster_wide,
        minhash_signatures_wide,
    )

    corpus = _doc_corpus_with_near_dups(spark, sf_dir)
    sigs = minhash_signatures_wide(corpus, num_hashes=MINHASH_K)
    clusters = lsh_cluster_wide(sigs, num_hashes=MINHASH_K, bands=MINHASH_BANDS)
    quality = quality_model_score(corpus).select("doc_id", "w_sum_milli")
    w = Window.partitionBy("cluster_rep").orderBy(
        F.desc("w_sum_milli"), F.asc("doc_id")
    )
    return (
        clusters.join(quality, "doc_id")
        .withColumn("keep_best", F.row_number().over(w) == 1)
        .select("doc_id", "cluster_rep", "w_sum_milli", "keep_best")
    )


def _keep_best_sql() -> str:
    cluster = _minhash_cluster_sql()
    return f"""
WITH clusters AS ({cluster}),
qual AS (
  SELECT doc_id,
         (SELECT CAST(COALESCE(SUM(
             ('0x' || substr(md5(t.w), 1, 15))::BIGINT % 2001 - 1000), 0) AS BIGINT)
          FROM unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t(w))
           AS w_sum_milli
  FROM ({_CORPUS_SQL}) corpus
)
SELECT c.doc_id, c.cluster_rep, q.w_sum_milli,
       row_number() OVER (PARTITION BY c.cluster_rep
                          ORDER BY q.w_sum_milli DESC, c.doc_id) = 1
         AS keep_best
FROM clusters c JOIN qual q USING (doc_id)
"""


# --------------------------------------------------------------------------
# Round-3 breadth batch: nearest as-of, CUSUM changepoints, blocked fuzzy
# join, grid-bucketed spatial radius join, triangle census, Misra-Gries
# heavy hitters, RAG chunk retrieval. Each pairs a scale-shaped engine
# plan with an exactly-equivalent naive/window SQL oracle.
# --------------------------------------------------------------------------


def j_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, nearest direction: each click matched to the closest
    error event of the same user within a 6 h tolerance, whichever side
    it falls on (ties go backward). One shuffle: both directional carries
    are windows over the same sorted union (operators/joins.py). Extends
    the reference's single-direction 'record at or before t' lookup
    (cassandra_fs_pp/fs_pp.py:621-625) to the symmetric form."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        "ts",
        F.col("value").alias("err_value"),
        F.col("ts").alias("err_ts"),
    )
    j = asof_join(
        clicks,
        errors,
        on="ts",
        by=["user_id"],
        value_cols=["err_value", "err_ts"],
        direction="nearest",
        tolerance_s=21600,
    )
    return j.withColumn(
        "delta_s",
        F.col("err_ts").cast("timestamp").cast("long")
        - F.col("ts").cast("timestamp").cast("long"),
    )


J_ASOF_NEAREST_ORACLE = """
WITH u AS (
  SELECT user_id, ts AS t, 0 AS side, ts AS mt, value AS mv,
         NULL::BIGINT AS event_id, NULL::DOUBLE AS lvalue
  FROM events WHERE event_type = 'error'
  UNION ALL
  SELECT user_id, ts, 1, NULL, NULL, event_id, value
  FROM events WHERE event_type = 'click'),
c AS (
  SELECT user_id, t, side, event_id, lvalue,
         last_value(mt IGNORE NULLS) OVER wb AS bt,
         last_value(mv IGNORE NULLS) OVER wb AS bv,
         first_value(mt IGNORE NULLS) OVER wf AS ft,
         first_value(mv IGNORE NULLS) OVER wf AS fv
  FROM u
  WINDOW
    wb AS (PARTITION BY user_id ORDER BY t, side
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wf AS (PARTITION BY user_id ORDER BY t, side
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
p AS (
  SELECT event_id, user_id, t AS ts, lvalue AS value, bt, bv, ft, fv,
         (bt IS NOT NULL AND epoch(t) - epoch(bt) <= 21600) AS b_ok,
         (ft IS NOT NULL AND epoch(ft) - epoch(t) <= 21600) AS f_ok
  FROM c WHERE side = 1),
sel AS (
  SELECT event_id, user_id, ts, value,
         CASE WHEN b_ok AND (NOT f_ok
                   OR epoch(ts) - epoch(bt) <= epoch(ft) - epoch(ts))
              THEN bv WHEN f_ok THEN fv END AS err_value,
         CASE WHEN b_ok AND (NOT f_ok
                   OR epoch(ts) - epoch(bt) <= epoch(ft) - epoch(ts))
              THEN bt WHEN f_ok THEN ft END AS err_ts
  FROM p)
SELECT event_id, user_id, ts, value, err_value, err_ts,
       CAST(floor(epoch(err_ts)) AS BIGINT)
         - CAST(floor(epoch(ts)) AS BIGINT) AS delta_s
FROM sel
"""


CUSUM_DRIFT = 6000  # centi-units; value*100 vs drift 60.00 (mean ~49.6)
CUSUM_ALERT = 25000  # alert when the accumulated positive drift tops 250.00


def ts_cusum_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user one-sided CUSUM level-shift detector over the event value
    stream, reported as per-user alert counts. The recurrence
    ``s = max(0, s + (x - k))`` is evaluated via its exact prefix-scan
    closed form (cumsum + running min — operators/windows.py ``cusum``):
    one exchange, no Python loop, linear at any scale. Values quantized
    to centi-units so the running sums are exact integers."""
    from cassandra_fs_pp_spark.operators.windows import cusum

    ev = _t(spark, sf_dir, "events").withColumn(
        "__x", F.round(F.col("value") * 100).cast("long")
    )
    s = cusum(
        ev,
        ["user_id"],
        ["ts", "event_id"],
        "__x",
        drift=CUSUM_DRIFT,
    )
    return s.groupBy("user_id").agg(
        F.sum(F.when(F.col("cusum") > CUSUM_ALERT, 1).otherwise(0))
        .cast("long")
        .alias("n_alerts"),
        F.max("cusum").alias("max_cusum"),
        F.min(
            F.when(F.col("cusum") > CUSUM_ALERT, F.col("ts"))
        ).alias("first_alert_ts"),
    )


TS_CUSUM_ORACLE = f"""
WITH d AS (
  SELECT user_id, ts, event_id,
         CAST(round(value * 100) AS BIGINT) - {CUSUM_DRIFT} AS d
  FROM events),
r AS (
  SELECT user_id, ts, event_id,
         CAST(sum(d) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS run
  FROM d),
c AS (
  SELECT user_id, ts,
         run - least(0, min(run) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cusum
  FROM r)
SELECT user_id,
       CAST(sum(CASE WHEN cusum > {CUSUM_ALERT} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_alerts,
       max(cusum) AS max_cusum,
       min(CASE WHEN cusum > {CUSUM_ALERT} THEN ts END) AS first_alert_ts
FROM c GROUP BY user_id
"""


def fuzzy_match_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: a deterministically-corrupted probe list (every
    20th part name with its 3rd char deleted; every 40th additionally its
    6th) matched back against the master part table at edit distance <= 2.
    Length-band blocking makes the candidate join a hash equi-join that is
    EXACTLY equivalent to the naive cross join the oracle runs
    (operators/fuzzyjoin.py)."""
    from cassandra_fs_pp_spark.operators.fuzzyjoin import blocked_levenshtein_join

    part = _t(spark, sf_dir, "part")
    master = part.select(
        "p_partkey", F.lower(F.col("p_name")).alias("master_name")
    )
    n1 = F.concat(
        F.expr("substring(lower(p_name), 1, 2)"),
        F.expr("substring(lower(p_name), 4)"),
    )
    probes = (
        part.filter(F.col("p_partkey") % 20 == 0)
        .withColumn("__n1", n1)
        .select(
            F.col("p_partkey").alias("probe_key"),
            F.when(
                F.col("p_partkey") % 40 == 0,
                F.concat(
                    F.expr("substring(__n1, 1, 4)"), F.expr("substring(__n1, 6)")
                ),
            )
            .otherwise(F.col("__n1"))
            .alias("probe_name"),
        )
    )
    return blocked_levenshtein_join(
        probes, master, "probe_name", "master_name", threshold=2
    )


FUZZY_MATCH_ORACLE = """
WITH m AS (SELECT p_partkey, lower(p_name) AS master_name FROM part),
p0 AS (
  SELECT p_partkey AS probe_key,
         substr(lower(p_name), 1, 2) || substr(lower(p_name), 4) AS n1
  FROM part WHERE p_partkey % 20 = 0),
p AS (
  SELECT probe_key,
         CASE WHEN probe_key % 40 = 0
              THEN substr(n1, 1, 4) || substr(n1, 6) ELSE n1 END AS probe_name
  FROM p0)
SELECT p.probe_key, p.probe_name, m.p_partkey, m.master_name,
       CAST(levenshtein(p.probe_name, m.master_name) AS INT) AS dist
FROM p, m
WHERE levenshtein(p.probe_name, m.master_name) <= 2
"""


def geo_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius self-join: all event pairs within 300 m on a synthetic
    100 km tangent plane (integer meter coordinates hashed from event ids —
    portable, deterministic). Grid blocking with cell == radius turns the
    O(n^2) distance join into a 9-stencil hash equi-join with identical
    results (operators/geo.py); the oracle runs the naive range join."""
    from cassandra_fs_pp_spark.operators.geo import grid_radius_join

    # r17: the md5 + base-16 point projection is CPU per row; a narrow
    # scan (one parquet split at bench scale) would compute it single-
    # task, so spread the 8-byte id column FIRST — production-sized scans
    # pass through with no exchange.
    ev = spread_if_narrow(
        _t(spark, sf_dir, "events").select("event_id")
    )
    # One md5 per point: hex digits 1-15 drive x, 16-30 drive y (both
    # 60-bit, independent) — halves the hash cost vs two salted hashes.
    md5 = F.md5(F.concat(F.lit("g"), F.col("event_id").cast("string")))
    pts = ev.select(
        F.col("event_id").alias("id"),
        (F.conv(F.substring(md5, 1, 15), 16, 10).cast("long") % 100000)
        .alias("x"),
        (F.conv(F.substring(md5, 16, 15), 16, 10).cast("long") % 100000)
        .alias("y"),
    ).localCheckpoint(eager=False)
    # The lazy pin makes the md5+base-16 projection compute ONCE: the
    # grid join consumes the points twice (home + probe side) and would
    # otherwise hash the full corpus twice per run (measured 1.86 s ->
    # 1.09 s median at sf0.1; at 100 TB it's a whole corpus-width hash
    # pass saved). eager=False per the r8 LSH finding — no standalone
    # checkpoint job barrier.
    return grid_radius_join(pts, radius=300)


# Deterministic fleet regions on the 100 km tangent plane (integer-meter
# vertices, shared verbatim by the Spark literal tables and the oracle SQL).
# Region 2 is deliberately CONCAVE (L-shape) to exercise the even-odd rule.
GEO_REGIONS: list[tuple[int, list[tuple[int, int]]]] = [
    (1, [(10000, 10000), (30000, 12000), (18000, 32000)]),
    (2, [(40000, 40000), (70000, 40000), (70000, 50000),
         (50000, 50000), (50000, 70000), (40000, 70000)]),
    (3, [(75000, 10000), (92000, 15000), (95000, 30000),
         (80000, 38000), (70000, 25000)]),
    (4, [(60000, 80000), (70000, 80000), (70000, 90000), (60000, 90000)]),
]


def geo_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-region tagging (geofencing): events hashed to the same
    deterministic tangent plane as ``geo_grid_join``, joined against four
    literal fleet regions (one concave) via the broadcast cell-coverage +
    division-free integer ray-cast of ``operators/geo.py
    point_in_polygon_join``. The point stream is never shuffled except
    the partial-aggregated parity count; the oracle replays the identical
    integer crossing test without the (exactness-preserving) bbox-cell
    prune."""
    from cassandra_fs_pp_spark.operators.geo import point_in_polygon_join

    ev = _t(spark, sf_dir, "events")
    md5 = F.md5(F.concat(F.lit("g"), F.col("event_id").cast("string")))
    pts = ev.select(
        F.col("event_id").alias("id"),
        (F.conv(F.substring(md5, 1, 15), 16, 10).cast("long") % 100000)
        .alias("x"),
        (F.conv(F.substring(md5, 16, 15), 16, 10).cast("long") % 100000)
        .alias("y"),
    )
    return point_in_polygon_join(pts, GEO_REGIONS)


def _geo_pip_oracle_sql() -> str:
    edge_rows = []
    for rid, verts in GEO_REGIONS:
        for i in range(len(verts)):
            x1, y1 = verts[i]
            x2, y2 = verts[(i + 1) % len(verts)]
            edge_rows.append(f"({rid},{x1},{y1},{x2},{y2})")
    edges = ",".join(edge_rows)
    return f"""
WITH p AS (
  SELECT event_id AS id,
         ('0x' || substr(md5('g' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
           % 100000 AS x,
         ('0x' || substr(md5('g' || CAST(event_id AS VARCHAR)), 16, 15))::BIGINT
           % 100000 AS y
  FROM events),
e(region_id, x1, y1, x2, y2) AS (VALUES {edges}),
hits AS (
  SELECT p.id, e.region_id,
         sum(CASE WHEN ((y1 <= y) != (y2 <= y))
                   AND (CASE WHEN y2 - y1 > 0
                             THEN (x1 - x) * (y2 - y1)
                                  + (x2 - x1) * (y - y1) > 0
                             ELSE (x1 - x) * (y2 - y1)
                                  + (x2 - x1) * (y - y1) < 0 END)
                  THEN 1 ELSE 0 END) AS crossings
  FROM p CROSS JOIN e
  GROUP BY p.id, e.region_id)
SELECT id, region_id FROM hits WHERE crossings % 2 = 1
"""


GEO_GRID_ORACLE = """
WITH p AS (
  SELECT event_id AS id,
         ('0x' || substr(md5('g' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
           % 100000 AS x,
         ('0x' || substr(md5('g' || CAST(event_id AS VARCHAR)), 16, 15))::BIGINT
           % 100000 AS y
  FROM events)
SELECT a.id AS id_a, b.id AS id_b,
       (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist_sq
FROM p a JOIN p b
  ON a.id < b.id
 AND b.x BETWEEN a.x - 300 AND a.x + 300
 AND b.y BETWEEN a.y - 300 AND a.y + 300
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 90000
"""


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle census of the part co-purchase graph (parts sharing
    an order, both with quantity >= 45). Degree-ordered edge orientation
    bounds the wedge join at O(m^1.5) (operators/graph.py
    ``triangle_stats``); the oracle's id-oriented 3-way self-join counts
    the same triangles."""
    from cassandra_fs_pp_spark.operators.graph import triangle_stats

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select("l_orderkey", "l_partkey")
    )
    e = (
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
    )
    return triangle_stats(e)


def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient on the co-purchase graph:
    cc(v) = 2*T(v) / (deg(v) * (deg(v) - 1)) with T(v) = triangles
    through v. Triangles enumerate once in canonical a<b<c orientation
    (two equi-joins on the deduped edge list) and fan out to their three
    corners; degrees come from one narrow aggregate. All counts exact
    integers; one final double division."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 46)
        .select("l_orderkey", "l_partkey")
    )
    x, y = li.alias("x"), li.alias("y")
    e0 = (
        x.join(y, "l_orderkey")
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(
            F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b")
        )
        .distinct()
    )
    deg = (
        e0.select(F.col("a").alias("node"))
        .unionByName(e0.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ab = e0.select(F.col("a"), F.col("b"))
    bc = e0.select(F.col("a").alias("b"), F.col("b").alias("c"))
    ac = e0.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    tri = (
        ab.join(bc, "b")
        .join(ac, (F.col("a") == F.col("ta")) & (F.col("c") == F.col("tc")))
        .select("a", "b", "c")
    )
    tn = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    dd = F.col("deg").cast("double")
    return (
        deg.join(tn, "node", "left")
        .filter(F.col("deg") >= 2)
        .select(
            "node",
            "deg",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
            F.round(
                2.0
                * F.coalesce(F.col("n_triangles"), F.lit(0)).cast("double")
                / (dd * (dd - 1.0)),
                6,
            ).alias("clustering_coeff"),
        )
    )


GRAPH_CLUSTERING_ORACLE = """
WITH e0 AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM lineitem x JOIN lineitem y USING (l_orderkey)
  WHERE x.l_partkey < y.l_partkey
    AND x.l_quantity >= 46 AND y.l_quantity >= 46),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS deg
  FROM (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
  GROUP BY 1),
tri AS (
  SELECT x.a, x.b, y.b AS c
  FROM e0 x JOIN e0 y ON y.a = x.b
  JOIN e0 z ON z.a = x.a AND z.b = y.b),
tc AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
  FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
  GROUP BY 1)
SELECT d.node, d.deg, coalesce(tc.n_triangles, 0) AS n_triangles,
       round(2.0 * CAST(coalesce(tc.n_triangles, 0) AS DOUBLE)
             / (CAST(d.deg AS DOUBLE) * (CAST(d.deg AS DOUBLE) - 1.0)), 6)
         AS clustering_coeff
FROM deg d LEFT JOIN tc ON tc.node = d.node
WHERE d.deg >= 2
"""


def w_seasonal_naive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast baseline error: predict each hour by the
    SAME hour yesterday (t - 24 h, time-matched equi self-join — a row
    lag would silently misalign across gaps) and report per-user MAE
    over the matched hours. Absolute differences stay exact integer
    cents; one final division."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hts")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("xc"))
    prev = hourly.select(
        "user_id",
        (F.col("hts") + F.expr("INTERVAL 24 HOURS")).alias("hts"),
        F.col("xc").alias("xc_prev"),
    )
    return (
        hourly.join(prev, ["user_id", "hts"])
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.sum(F.abs(F.col("xc") - F.col("xc_prev"))).alias("abs_err_cents"),
            F.round(
                F.sum(F.abs(F.col("xc") - F.col("xc_prev"))).cast("double")
                / F.count(F.lit(1))
                / F.lit(100.0),
                6,
            ).alias("mae"),
        )
    )


W_SEASONAL_NAIVE_ORACLE = """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hts,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS xc
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
SELECT h.user_id, CAST(count(*) AS BIGINT) AS n_matched,
       CAST(sum(abs(h.xc - p.xc)) AS BIGINT) AS abs_err_cents,
       round(CAST(sum(abs(h.xc - p.xc)) AS DOUBLE) / count(*) / 100.0, 6)
         AS mae
FROM hourly h JOIN hourly p
  ON p.user_id = h.user_id AND p.hts + INTERVAL 24 HOUR = h.hts
GROUP BY 1
"""


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the same co-purchase graph as graph_triangle_count
    (operators/graph.py ``k_core`` — distributed peeling to the unique
    maximal subgraph with min degree >= 3).  FULL hash oracle since r5:
    the k-core is unique and integer-valued (engine-independent), so a
    DuckDB recursive-CTE peel replays the fixpoint exactly; the
    differential pytest additionally replays peeling in Python."""
    from cassandra_fs_pp_spark.operators.graph import k_core

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select("l_orderkey", "l_partkey")
    )
    e = (
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
    )
    return k_core(e, k=3)


GRAPH_KCORE_ORACLE = """
WITH RECURSIVE e0 AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a JOIN lineitem b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
    AND a.l_quantity >= 45 AND b.l_quantity >= 45),
-- one peel round per recursion step: drop edges incident to any node of
-- degree < 3; recurse only while a weak node exists (strictly shrinking,
-- so termination is guaranteed without an iteration cap)
peel(iter, a, b) AS (
  SELECT 0, a, b FROM e0
  UNION ALL
  SELECT iter + 1, a, b FROM (
    SELECT iter, a, b, da, db, min(least(da, db)) OVER () AS mindeg
    FROM (
      SELECT iter, a, b,
             count(*) OVER (PARTITION BY a) AS da,
             count(*) OVER (PARTITION BY b) AS db
      FROM (SELECT iter, a, b FROM peel
            UNION ALL SELECT iter, b, a FROM peel)
    ) s1
  ) s2
  WHERE a < b AND mindeg < 3 AND da >= 3 AND db >= 3
),
last AS (SELECT a, b FROM peel WHERE iter = (SELECT max(iter) FROM peel)),
sym AS (SELECT a AS n FROM last UNION ALL SELECT b FROM last),
deg AS (SELECT n, count(*) AS d FROM sym GROUP BY n)
-- the max-iter set is the fixpoint iff min degree >= 3; otherwise the
-- true 3-core is empty (recursion stopped because the next set was empty)
SELECT n AS node, CAST(d AS BIGINT) AS core_degree FROM deg
WHERE (SELECT min(d) FROM deg) >= 3
"""


GRAPH_TRIANGLE_ORACLE = """
WITH e0 AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a JOIN lineitem b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
    AND a.l_quantity >= 45 AND b.l_quantity >= 45),
deg AS (
  SELECT n, count(*) AS d
  FROM (SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) GROUP BY n)
SELECT (SELECT count(*) FROM deg) AS n_nodes,
       (SELECT count(*) FROM e0) AS n_edges,
       (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_wedges,
       (SELECT count(*)
        FROM e0 e1 JOIN e0 e2 ON e1.b = e2.a
             JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles
"""


def a_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus top-20 tokens via the Misra-Gries sketch-then-verify
    pattern (operators/stats.py ``heavy_hitters_exact``): map-side MG
    summaries prune the vocabulary to a guaranteed-superset candidate
    set, then a broadcast semi-join recounts only candidates — the
    shuffle never carries the singleton tail. Result is exact, so the
    oracle is the plain group-by top-k."""
    from cassandra_fs_pp_spark.functions.text import whitespace_tokens
    from cassandra_fs_pp_spark.operators.stats import heavy_hitters_exact

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(whitespace_tokens(F.col("text"))).alias("tok"))
    return heavy_hitters_exact(toks, "tok", k=20, capacity=1000)


HEAVY_HITTERS_ORACLE = r"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents),
c AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
r AS (SELECT tok, cnt,
             row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rk
      FROM c)
SELECT tok, cnt FROM r WHERE rk <= 20
"""


RAG_CHUNK_WORDS = 40
RAG_STRIDE = 20
RAG_DIM = 32
RAG_QUERY_TEXT = "solar panel efficiency report analysis"
RAG_TOPK = 10


def _rag_query_vec() -> list[int]:
    """Hashing-trick term counts of the fixed retrieval query — computed
    driver-side with hashlib's md5 (bit-identical to both engines'
    md5-backed hash60)."""
    import hashlib

    v = [0] * RAG_DIM
    for w in RAG_QUERY_TEXT.split():
        v[int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % RAG_DIM] += 1
    return v


def rag_chunk_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG retrieval over the corpus: overlapping 40-word chunks (stride
    20), 32-bucket hashing-trick term vectors, cosine score against a
    fixed query vector, global top-10 chunks. All JVM-side higher-order
    expressions over one scan; top-k via TakeOrdered (no single-partition
    window sort). Integer dots + IEEE sqrt/div keep the scores
    engine-portable bit-for-bit."""
    qv = _rag_query_vec()
    qself = sum(c * c for c in qv)
    docs = _t(spark, sf_dir, "documents")
    from cassandra_fs_pp_spark.functions.text import whitespace_tokens

    chunks = docs.withColumn("__ws", whitespace_tokens(F.col("text"))).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(floor((size(__ws) - 1)"
                f" / {RAG_STRIDE}.0) as int)),"
                f" ci -> slice(__ws, ci * {RAG_STRIDE} + 1, {RAG_CHUNK_WORDS}))"
            )
        ).alias("chunk_id", "cw"),
    )
    # Term-frequency vectors as ROWS, not as a per-bucket HOF filter: the
    # old `transform(sequence(0,31), b -> size(filter(cw, w -> md5(w) %
    # 32 = b)))` re-hashed every word once PER BUCKET inside the
    # interpreted lambda (32x the md5 volume, ~70 us per interpreted
    # eval), and binding the hashes first doesn't survive
    # CollapseProject (single reference -> re-inlined into the lambda).
    # Exploding (chunk, word) rows runs the md5 inside whole-stage
    # codegen ONCE per word; the per-(chunk, bucket) counts come back
    # through one map-side-combinable hash aggregate, and the dot
    # against the literal query vector folds bucket-wise in the same
    # aggregation. Row set is identical: `cw` is non-empty by
    # construction (ci <= floor((size-1)/stride)), so the explode never
    # drops a chunk.
    qv_case = " ".join(
        f"WHEN {b} THEN {c}" for b, c in enumerate(qv) if c
    )
    wb = chunks.select(
        "doc_id",
        "chunk_id",
        F.explode("cw").alias("w"),
    ).select(
        "doc_id",
        "chunk_id",
        F.expr(
            f"pmod(cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint),"
            f" {RAG_DIM})"
        ).alias("b"),
    )
    tf = wb.groupBy("doc_id", "chunk_id", "b").agg(
        F.count(F.lit(1)).alias("n")
    )
    feat = tf.groupBy("doc_id", "chunk_id").agg(
        F.sum(
            F.expr(f"n * (CASE b {qv_case} ELSE 0 END)")
        ).cast("bigint").alias("dot"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("__self"),
    )
    scored = feat.withColumn(
        "score",
        F.col("dot").cast("double")
        / F.sqrt(F.col("__self").cast("double") * F.lit(float(qself))),
    ).drop("__self")
    return scored.orderBy(
        F.desc("score"), F.asc("doc_id"), F.asc("chunk_id")
    ).limit(RAG_TOPK)


def _rag_chunk_sql() -> str:
    qv = _rag_query_vec()
    qself = sum(c * c for c in qv)
    dot_terms = " + ".join(
        f"{c} * tfs[{b + 1}]" for b, c in enumerate(qv) if c
    )
    return rf"""
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents),
ch AS (
  SELECT doc_id,
         unnest(range(CAST(floor((len(ws) - 1) / {RAG_STRIDE}.0) AS INT) + 1))
           AS chunk_id,
         ws
  FROM tok),
chunks AS (
  SELECT doc_id, chunk_id,
         ws[chunk_id * {RAG_STRIDE} + 1
            : chunk_id * {RAG_STRIDE} + {RAG_CHUNK_WORDS}] AS cw
  FROM ch),
feat AS (
  SELECT doc_id, chunk_id,
         list_transform(range(0, {RAG_DIM}),
           b -> len(list_filter(cw,
             w -> ('0x' || substr(md5(w), 1, 15))::BIGINT % {RAG_DIM} = b)))
           AS tfs
  FROM chunks),
scored AS (
  SELECT doc_id, chunk_id,
         CAST({dot_terms} AS BIGINT) AS dot,
         list_sum(list_transform(tfs, t -> t * t)) AS self
  FROM feat),
r AS (
  SELECT doc_id, chunk_id, dot,
         CAST(dot AS DOUBLE) / sqrt(CAST(self AS DOUBLE) * {qself}.0) AS score,
         row_number() OVER (
           ORDER BY CAST(dot AS DOUBLE)
                      / sqrt(CAST(self AS DOUBLE) * {qself}.0) DESC,
                    doc_id, chunk_id) AS rk
  FROM scored)
SELECT doc_id, chunk_id, dot, score FROM r WHERE rk <= {RAG_TOPK}
"""


def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 principal-axis projection of the embedding corpus
    (operators/similarity.py ``pca_power_project``: exact integer Gram ->
    driver-side d x d fixed-point power iteration [bounded d^2 collect]
    -> Arrow-batched projection; the corpus never shuffles).  FULLY
    oracled (graduated from rows-only in r8): every iteration step is
    int64 arithmetic with truncating division, so the DuckDB oracle
    unrolls the same 64 power steps per axis and reproduces both the
    integer projections and the data-unit doubles bit-for-bit.  The
    spectral-gap pytest pins the power axes to LAPACK eigh at
    cos >= 0.9999 where a gap exists."""
    from cassandra_fs_pp_spark.operators.similarity import pca_power_project

    return pca_power_project(
        _t(spark, sf_dir, "embeddings"), dim=EMB_DIM
    )


def _emb_pca_oracle_sql() -> str:
    """DuckDB replay of ``pca_power_project``: exact integer Gram, the
    64-step fixed-point power iteration per axis unrolled as MATERIALIZED
    CTEs (materialization is load-bearing — inlined, each step's double
    reference would expand 2^64 ways), exact deflation for axis 2, sign
    pin, integer projection, and the correctly-rounded sqrt/divide to
    data units.  DuckDB's ``//`` is truncating division — exactly the
    spec's ``tdiv``."""
    from cassandra_fs_pp_spark.operators.similarity import (
        GRAM_SCALE,
        PCA_POWER_B,
        PCA_POWER_ITERS,
    )

    B, T, dim, scale = PCA_POWER_B, PCA_POWER_ITERS, EMB_DIM, GRAM_SCALE
    parts = [
        f"""
WITH ex AS MATERIALIZED (
  SELECT vec_id, i - 1 AS pos,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * {scale}) AS BIGINT) AS q
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)),
g0 AS MATERIALIZED (
  SELECT a.pos AS i, b.pos AS j, CAST(sum(a.q * b.q) AS BIGINT) AS g
  FROM ex a JOIN ex b ON a.vec_id = b.vec_id GROUP BY 1, 2),
gd AS (SELECT max(abs(g)) // 1048575 + 1 AS gdiv FROM g0),
gs AS MATERIALIZED (SELECT i, j, g // gdiv AS g FROM g0, gd),
va0 AS MATERIALIZED (SELECT range AS i, CAST({B} AS BIGINT) AS v
                     FROM range({dim}))"""
    ]
    for t in range(1, T + 1):
        parts.append(
            f""",
wa{t} AS MATERIALIZED (
  SELECT gs.i AS i, CAST(sum(gs.g * x.v) AS BIGINT) AS w
  FROM gs JOIN va{t - 1} x ON gs.j = x.i GROUP BY 1),
ma{t} AS MATERIALIZED (SELECT greatest(max(abs(w)), 1) AS m FROM wa{t}),
va{t} AS MATERIALIZED (SELECT i, (w * {B}) // m AS v FROM wa{t}, ma{t})"""
        )
    parts.append(
        f""",
n1 AS MATERIALIZED (SELECT CAST(sum(v * v) AS BIGINT) AS n FROM va{T}),
vb0 AS MATERIALIZED (
  SELECT range AS i,
         CAST(CASE WHEN range % 2 = 0 THEN {B} ELSE -{B} END AS BIGINT) AS v
  FROM range({dim}))"""
    )
    for t in range(1, T + 1):
        parts.append(
            f""",
wb{t} AS MATERIALIZED (
  SELECT gs.i AS i, CAST(sum(gs.g * x.v) AS BIGINT) AS w
  FROM gs JOIN vb{t - 1} x ON gs.j = x.i GROUP BY 1),
wr{t} AS MATERIALIZED (SELECT i, w // 1024 AS wr FROM wb{t}),
pp{t} AS MATERIALIZED (
  SELECT CAST(sum(r.wr * u.v) AS BIGINT) AS p
  FROM wr{t} r JOIN va{T} u ON u.i = r.i),
w2{t} AS MATERIALIZED (
  SELECT r.i, n1.n * r.wr - pp{t}.p * u.v AS w2
  FROM wr{t} r JOIN va{T} u ON u.i = r.i, pp{t}, n1),
mb{t} AS MATERIALIZED (SELECT greatest(max(abs(w2)), 1) AS m FROM w2{t}),
qb{t} AS MATERIALIZED (SELECT m // 274877906944 + 1 AS q, m FROM mb{t}),
vb{t} AS MATERIALIZED (
  SELECT i, ((w2 // q) * {B}) // greatest(m // q, 1) AS v
  FROM w2{t}, qb{t})"""
        )
    parts.append(
        f""",
sa AS (SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS s
       FROM va{T} ORDER BY abs(v) DESC, i ASC LIMIT 1),
sb AS (SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS s
       FROM vb{T} ORDER BY abs(v) DESC, i ASC LIMIT 1),
na AS (SELECT CAST(sum(v * v) AS BIGINT) AS n FROM va{T}),
nb AS (SELECT CAST(sum(v * v) AS BIGINT) AS n FROM vb{T}),
proj AS (
  SELECT ex.vec_id,
         CAST(sa.s * sum(ex.q * a.v) AS BIGINT) AS pc1_fp,
         CAST(sb.s * sum(ex.q * b.v) AS BIGINT) AS pc2_fp
  FROM ex JOIN va{T} a ON a.i = ex.pos JOIN vb{T} b ON b.i = ex.pos, sa, sb
  GROUP BY ex.vec_id, sa.s, sb.s)
SELECT vec_id, pc1_fp, pc2_fp,
       CAST(pc1_fp AS DOUBLE) / ({scale}.0 * sqrt(CAST(na.n AS DOUBLE)))
         AS pc1,
       CAST(pc2_fp AS DOUBLE) / ({scale}.0 * sqrt(CAST(nb.n AS DOUBLE)))
         AS pc2
FROM proj, na, nb"""
    )
    return "".join(parts)


def emb_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer Gram matrix (upper triangle) of the embedding corpus
    — the PCA/whitening input. Map-side X^T X per Arrow batch; the
    exchange carries O(parts * d^2) tiny partial rows, never the corpus;
    fixed-point partials are partition-invariant bit-for-bit
    (operators/similarity.py ``gram_matrix``)."""
    from cassandra_fs_pp_spark.operators.similarity import gram_matrix

    return gram_matrix(
        _t(spark, sf_dir, "embeddings", spread=False), dim=EMB_DIM
    )


EMB_GRAM_ORACLE = """
WITH ex AS (
  SELECT vec_id, i - 1 AS pos,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT) AS q
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i))
SELECT CAST(a.pos AS INT) AS i, CAST(b.pos AS INT) AS j,
       CAST(sum(a.q * b.q) AS BIGINT) AS gram_sum
FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.pos <= b.pos
GROUP BY 1, 2
"""


OP_ROLLUP_SPLIT = "2024-02-01 00:00:00"


def op_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction planning (the OPTIMIZE primitive every lakehouse table
    needs): month partitions of ``orders`` stand in for manifest entries
    with row-count sizes; consecutive partitions (date order) are packed
    into target-sized rewrite groups, ``group_id = floor(exclusive
    running rows / target)``. The manifest of a 100 TB table is millions
    of files, so the prefix sum routes through ``global_running_sum``
    (range shuffle + broadcast carry-ins — see
    ``operators/stats.py:_two_level_prefix``), never a manifest-wide
    single-partition ORDER BY window."""
    from cassandra_fs_pp_spark.operators.stats import global_running_sum

    orders = _t(spark, sf_dir, "orders")
    parts = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("part_month")
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    planned = global_running_sum(
        parts, "n_rows", ["part_month"], out_col="__start", exclusive=True
    )
    grouped = planned.withColumn(
        "group_id",
        F.floor(F.col("__start") / F.lit(COMPACTION_TARGET_ROWS)).cast("long"),
    )
    return grouped.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("n_rows").cast("long").alias("group_rows"),
        F.min("part_month").alias("first_month"),
        F.max("part_month").alias("last_month"),
    )


COMPACTION_TARGET_ROWS = 2500

OP_COMPACTION_PLAN_ORACLE = """
WITH parts AS (
  SELECT date_trunc('month', o_orderdate) AS part_month,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM orders GROUP BY 1),
c AS (
  SELECT part_month, n_rows,
         sum(n_rows) OVER (ORDER BY part_month
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_rows
           AS start_rows
  FROM parts)
SELECT CAST(floor(start_rows / 2500) AS BIGINT) AS group_id,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(n_rows) AS BIGINT) AS group_rows,
       min(part_month) AS first_month, max(part_month) AS last_month
FROM c GROUP BY 1
"""


def op_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a pre-aggregated prior state (events
    before the split date) merged with the new delta's partial aggregate
    via one full-outer join — provably equal to recomputing over all
    data, which is exactly what the oracle does. At 100 TB the nightly
    state is a compact per-key table and only the delta is scanned and
    shuffled; counts/sums stay in exact integer cents so merge ==
    recompute bit-for-bit."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "__cents", F.round(F.col("value") * 100).cast("long")
    )
    split = F.lit(OP_ROLLUP_SPLIT).cast("timestamp_ntz")

    def state(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("__cents").alias("s")
        )

    prior = state(ev.filter(F.col("ts") < split)).select(
        "user_id", F.col("n").alias("n_a"), F.col("s").alias("s_a")
    )
    delta = state(ev.filter(F.col("ts") >= split)).select(
        "user_id", F.col("n").alias("n_b"), F.col("s").alias("s_b")
    )
    merged = prior.join(delta, "user_id", "full_outer")
    return merged.select(
        "user_id",
        (F.coalesce("n_a", F.lit(0)) + F.coalesce("n_b", F.lit(0))).alias(
            "n_events"
        ),
        (F.coalesce("s_a", F.lit(0)) + F.coalesce("s_b", F.lit(0))).alias(
            "sum_cents"
        ),
    ).withColumn(
        "avg_cents", F.col("sum_cents").cast("double") / F.col("n_events")
    )


OP_ROLLUP_ORACLE = """
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / count(*)
         AS avg_cents
FROM events GROUP BY user_id
"""


def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA smoothing (alpha = 1/2) of the event value stream:
    the sequential fold ``s = (s + x) / 2`` evaluated as a higher-order
    ``aggregate`` over the time-ordered value array. With the identical
    add/halve operation order on both engines the doubles are
    bit-identical (halving is exact; additions round identically), so
    this carries a FULL oracle despite being a float recurrence. Per-key
    series must fit in one task (same contract as every collect_list
    window); beyond that, chunk the fold by day and carry the chunk
    boundary states."""
    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("__s")
    )
    g = g.select(
        "user_id",
        F.size("__s").alias("n_events"),
        F.expr("transform(__s, r -> r.value)").alias("__v"),
    )
    return g.select(
        "user_id",
        "n_events",
        F.expr(
            "aggregate(slice(__v, 2, size(__v) - 1), element_at(__v, 1),"
            " (a, x) -> (a + x) / 2D)"
        ).alias("ewma_half"),
    )


TS_EWMA_ORACLE = """
WITH l AS (
  SELECT user_id, list(value ORDER BY ts, event_id) AS v
  FROM events GROUP BY user_id)
SELECT user_id, CAST(len(v) AS INT) AS n_events,
       list_reduce(v, (a, b) -> (a + b) / 2) AS ewma_half
FROM l
"""


def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Holt linear (double-exponential) smoothing with
    alpha = beta = 1/2: level l' = (y + (l+b))/2, trend
    b' = ((l'-l) + b)/2, initialized l=v2, b=v2-v1.  Like ts_ewma, the
    halvings are IEEE-exact and the add/subtract order is identical on
    both engines, so the struct-state ``aggregate`` fold carries a FULL
    oracle (a recursive CTE replays the same recurrence in DuckDB).
    Forecast column is the one-step-ahead l + b.  Null observations
    filtered up front (same rationale as ``w_kalman_1d``)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    g = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("__s")
    )
    g = g.select(
        "user_id",
        F.size("__s").alias("n_events"),
        F.expr("transform(__s, r -> r.value)").alias("__v"),
    )
    state = F.expr(
        "CASE WHEN size(__v) = 1 THEN"
        " named_struct('l', element_at(__v, 1), 'b', 0D)"
        " ELSE aggregate(slice(__v, 3, size(__v) - 2),"
        "   named_struct('l', element_at(__v, 2),"
        "                'b', element_at(__v, 2) - element_at(__v, 1)),"
        "   (s, x) -> named_struct("
        "     'l', (x + (s.l + s.b)) / 2D,"
        "     'b', (((x + (s.l + s.b)) / 2D - s.l) + s.b) / 2D))"
        " END"
    )
    return g.select(
        "user_id",
        "n_events",
        state.getField("l").alias("holt_level"),
        state.getField("b").alias("holt_trend"),
        (state.getField("l") + state.getField("b")).alias("forecast_1"),
    )


TS_HOLT_ORACLE = """
WITH l0 AS (
  SELECT user_id, list(value ORDER BY ts, event_id) AS v,
         CAST(len(list(value)) AS INT) AS n
  FROM events WHERE value IS NOT NULL GROUP BY user_id),
singles AS (
  SELECT user_id, n, v[1] AS l, CAST(0 AS DOUBLE) AS b FROM l0 WHERE n = 1),
rec AS (
  WITH RECURSIVE r AS (
    SELECT user_id, 2 AS i, CAST(v[2] AS DOUBLE) AS l,
           CAST(v[2] - v[1] AS DOUBLE) AS b, v, n
    FROM l0 WHERE n >= 2
    UNION ALL
    SELECT user_id, i + 1,
           (v[i+1] + (l + b)) / 2,
           (((v[i+1] + (l + b)) / 2 - l) + b) / 2,
           v, n
    FROM r WHERE i < n)
  SELECT user_id, n, l, b FROM r WHERE i = n)
SELECT user_id, n AS n_events, l AS holt_level, b AS holt_trend,
       l + b AS forecast_1
FROM (SELECT * FROM singles UNION ALL SELECT * FROM rec)
"""


def stream_cusum_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSUM detector as a custom stateful streaming operator
    (``applyInPandasWithState`` carrying one long of state per user —
    streaming/filestream.py ``cusum_stateful``), drained with
    availableNow and rolled up to the same per-user alert profile as the
    batch ``ts_cusum_alerts``. Same oracle: streaming twin == batch
    closed form == naive recurrence."""
    from cassandra_fs_pp_spark.session import tune
    from cassandra_fs_pp_spark.streaming.filestream import cusum_stateful

    tune(spark)
    stream = stream_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    rows = run_available_now(
        cusum_stateful(
            stream,
            key_col="user_id",
            ts_col="ts",
            x_col="x",
            drift=CUSUM_DRIFT,
            order_cols=["ts", "event_id"],
        )
    )
    return rows.groupBy("user_id").agg(
        F.sum(F.when(F.col("cusum") > CUSUM_ALERT, 1).otherwise(0))
        .cast("long")
        .alias("n_alerts"),
        F.max("cusum").alias("max_cusum"),
        F.min(F.when(F.col("cusum") > CUSUM_ALERT, F.col("ts"))).alias(
            "first_alert_ts"
        ),
    )


def stream_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear smoothing as a custom stateful streaming operator
    (streaming/filestream.py ``holt_stateful``: (n, level, trend) state
    per user, availableNow drain) rolled up to the final per-user state
    — bit-identical to the batch struct-state fold, so it carries the
    SAME full oracle as ts_holt_linear."""
    from cassandra_fs_pp_spark.session import tune
    from cassandra_fs_pp_spark.streaming.filestream import holt_stateful

    tune(spark)
    stream = stream_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    rows = run_available_now(
        holt_stateful(
            stream,
            key_col="user_id",
            ts_col="ts",
            x_col="value",
            order_cols=["ts", "event_id"],
        )
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("n_seen"))
    last = rows.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    return last.select(
        "user_id",
        F.col("n_seen").cast("int").alias("n_events"),
        F.col("level").alias("holt_level"),
        F.col("trend").alias("holt_trend"),
        (F.col("level") + F.col("trend")).alias("forecast_1"),
    )


def _zorder_expr(cx: str, cy: str, bits: int, dialect: str) -> str:
    """Bit-interleaved Morton (Z-order) value of two cell coordinates —
    the same expression text is generated for Spark SQL and DuckDB (both
    use C-style shift/and/or on BIGINT), so the oracle is structurally
    identical."""
    terms = []
    for b in range(bits):
        if dialect == "spark":
            terms.append(f"shiftleft(shiftright({cx}, {b}) & 1, {2 * b})")
            terms.append(f"shiftleft(shiftright({cy}, {b}) & 1, {2 * b + 1})")
        else:
            terms.append(f"((({cx} >> {b}) & 1) << {2 * b})")
            terms.append(f"((({cy} >> {b}) & 1) << {2 * b + 1})")
    return " + ".join(terms)


def layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering audit — the layout technique behind
    multi-column data skipping at 100 TB: interleave the bits of the two
    grid coordinates, bucket by Z prefix, and report each bucket's row
    count and per-dimension min/max envelope. Tight envelopes on BOTH
    dimensions are exactly what lets a scan prune files for 2-D
    predicates (a plain x-sort gives unbounded y ranges). Pure integer
    bit arithmetic — engine-portable."""
    ev = _t(spark, sf_dir, "events")
    md5 = F.md5(F.concat(F.lit("g"), F.col("event_id").cast("string")))
    pts = ev.select(
        (F.conv(F.substring(md5, 1, 15), 16, 10).cast("long") % 100000)
        .alias("x"),
        (F.conv(F.substring(md5, 16, 15), 16, 10).cast("long") % 100000)
        .alias("y"),
    ).select(
        "x",
        "y",
        F.expr("cast(floor(x / 128) as bigint)").alias("cx"),
        F.expr("cast(floor(y / 128) as bigint)").alias("cy"),
    )
    z = F.expr(_zorder_expr("cx", "cy", 10, "spark"))
    return (
        pts.withColumn("zbucket", F.shiftright(z, 8))
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
    )


def _zorder_oracle() -> str:
    return f"""
WITH p AS (
  SELECT ('0x' || substr(md5('g' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
           % 100000 AS x,
         ('0x' || substr(md5('g' || CAST(event_id AS VARCHAR)), 16, 15))::BIGINT
           % 100000 AS y
  FROM events),
c AS (
  SELECT x, y, CAST(floor(x / 128) AS BIGINT) AS cx,
         CAST(floor(y / 128) AS BIGINT) AS cy
  FROM p),
z AS (SELECT x, y, ({_zorder_expr("cx", "cy", 10, "duck")}) >> 8 AS zbucket
      FROM c)
SELECT zbucket, CAST(count(*) AS BIGINT) AS n,
       min(x) AS x_min, max(x) AS x_max,
       min(y) AS y_min, max(y) AS y_max
FROM z GROUP BY zbucket
"""


def dq_table_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent per-bucket content digests of the orders table —
    the anti-entropy primitive for comparing two replicas / two
    snapshots of a 100 TB table without moving rows: ship only the 64
    (bucket, xor-digest, count) rows and diff them; mismatched buckets
    localize the repair. XOR of row hashes is commutative, so the digest
    is partition- and order-invariant by construction. Floats enter the
    row rendering as exact integer cents."""
    o = _t(spark, sf_dir, "orders")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
    )
    from cassandra_fs_pp_spark.functions.text import hash60

    return (
        o.select(
            F.pmod(F.col("o_orderkey"), F.lit(64)).alias("bucket"),
            hash60(row_str).alias("h"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(h)").alias("digest"),
        )
    )


DQ_DIGEST_ORACLE = """
WITH h AS (
  SELECT o_orderkey % 64 AS bucket,
         ('0x' || substr(md5(
            CAST(o_orderkey AS VARCHAR) || '|' ||
            CAST(o_custkey AS VARCHAR) || '|' ||
            o_orderstatus || '|' || o_orderpriority || '|' ||
            CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)
         ), 1, 15))::BIGINT AS h
  FROM orders)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows, bit_xor(h) AS digest
FROM h GROUP BY bucket
"""


def a_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-user counts per event type via bitmap aggregation
    (the roaring-bitmap pattern): users map to (word = id div 63,
    bit = id mod 63), a first map-side-combinable ``bit_or`` collapses
    each (type, word) to one long, then popcounts sum. The shuffle
    carries O(types * words) longs instead of O(types * users) distinct
    pairs — the standard exact-distinct rewrite for high-cardinality
    keys. 63-bit words keep the sign bit clear (portable shifts)."""
    ev = _t(spark, sf_dir, "events")
    words = (
        ev.select(
            "event_type",
            F.expr("cast(floor(user_id / 63) as bigint)").alias("word"),
            F.expr("shiftleft(cast(1 as bigint), cast(user_id % 63 as int))")
            .alias("mask"),
        )
        .groupBy("event_type", "word")
        .agg(F.expr("bit_or(mask)").alias("bm"))
    )
    return words.groupBy("event_type").agg(
        F.sum(F.bit_count("bm")).cast("long").alias("n_distinct_users"),
        F.count(F.lit(1)).alias("n_words"),
    )


A_BITMAP_ORACLE = """
WITH w AS (
  SELECT event_type, CAST(floor(user_id / 63) AS BIGINT) AS word,
         bit_or(1::BIGINT << CAST(user_id % 63 AS INT)) AS bm
  FROM events GROUP BY event_type, word)
SELECT event_type,
       CAST(sum(bit_count(bm)) AS BIGINT) AS n_distinct_users,
       CAST(count(*) AS BIGINT) AS n_words
FROM w GROUP BY event_type
"""


def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit over lineitem prices — the
    classic fabricated-numbers screen for financial/data-quality
    pipelines.  Digit extraction goes through the DECIMAL(14,2) string
    form (portable between engines; no float log10 near a digit
    boundary); expected frequencies are log10(1 + 1/d)."""
    li = _t(spark, sf_dir, "lineitem")
    digit = F.regexp_extract(
        F.col("l_extendedprice").cast("decimal(14,2)").cast("string"),
        r"^([1-9])",
        1,
    ).cast("int")
    per = li.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = per.agg(F.sum("n").alias("__tot"))
    d = F.col("digit").cast("double")
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / d)
    return (
        per.join(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("__tot"), 6).alias("observed_p"),
            F.round(expected, 6).alias("benford_p"),
            F.round(
                (F.col("n") - expected * F.col("__tot"))
                * (F.col("n") - expected * F.col("__tot"))
                / (expected * F.col("__tot")),
                6,
            ).alias("chi2_term"),
        )
    )


DQ_BENFORD_ORACLE = """
WITH per AS (
  SELECT CAST(regexp_extract(
           CAST(CAST(l_extendedprice AS DECIMAL(14,2)) AS VARCHAR),
           '^([1-9])', 1) AS INT) AS digit,
         CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM per)
SELECT digit, n,
       round(n / CAST(t AS DOUBLE), 6) AS observed_p,
       round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS benford_p,
       round((n - log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * t)
             * (n - log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * t)
             / (log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * t), 6) AS chi2_term
FROM per, tot
"""


def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus token frequency distribution: least-
    squares slope/intercept of ln(freq) against ln(rank) (rank by count
    desc, token asc — a total order), the standard sanity screen that a
    text corpus has natural-language token statistics (synthetic or
    template-generated corpora show flat or cliffed curves).  Ranks come
    from ``global_row_number`` (range shuffle + broadcast offsets), not a
    corpus-wide ``Window.orderBy`` — the vocabulary grows with the corpus
    (Heaps' law), so an unpartitioned rank window would single-thread an
    O(vocab) sort at 100 TB."""
    from cassandra_fs_pp_spark.functions.text import whitespace_tokens
    from cassandra_fs_pp_spark.operators.stats import global_row_number

    docs = _t(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(whitespace_tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ranked = global_row_number(
        freq, [F.col("n").desc(), F.col("tok").asc()], out_col="__rank"
    )
    xy = ranked.select(
        F.log(F.col("__rank").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
        F.col("n"),
    )
    n_types = F.count(F.lit(1)).cast("long")
    sx, sy = F.sum("x"), F.sum("y")
    sxx, sxy = F.sum(F.col("x") * F.col("x")), F.sum(F.col("x") * F.col("y"))
    slope = (n_types * sxy - sx * sy) / (n_types * sxx - sx * sx)
    return xy.agg(
        n_types.alias("n_types"),
        F.sum("n").cast("long").alias("n_tokens"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / n_types, 6).alias("zipf_intercept"),
    )


TEXT_ZIPF_ORACLE = """
WITH freq AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
        FROM documents)
  GROUP BY tok),
xy AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY n DESC, tok ASC) AS DOUBLE)) AS x,
         ln(CAST(n AS DOUBLE)) AS y, n
  FROM freq),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_types, CAST(sum(n) AS BIGINT) AS n_tokens,
         sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx, sum(x*y) AS sxy
  FROM xy)
SELECT n_types, n_tokens,
       round((n_types * sxy - sx * sy) / (n_types * sxx - sx * sx), 6)
         AS zipf_slope,
       round((sy - (n_types * sxy - sx * sy) / (n_types * sxx - sx * sx) * sx)
             / n_types, 6) AS zipf_intercept
FROM s
"""


CDC_K = 8  # rolling window chars
CDC_MASK = 64  # boundary when window-hash % 64 == 0 -> ~64-char chunks


def text_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup: chunk boundaries where the 8-char
    window hash % 64 == 0 (rsync/LBFS-style CDC), then corpus-wide
    duplicate-chunk detection. Unlike the fixed-width ``dedup_spans``,
    CDC boundaries re-synchronize after insertions/deletions, so shifted
    copies still dedup — the property storage and corpus dedup systems
    buy with CDC. All higher-order JVM expressions over one scan;
    the cross-doc dedup is one window over the chunk value (hash the
    chunk to narrow the exchange at scale)."""
    from cassandra_fs_pp_spark.functions.text import cdc_chunks

    docs = _t(spark, sf_dir, "documents")
    staged = cdc_chunks(
        docs.select("doc_id", "text"),
        "lower(trim(text))",
        k=CDC_K,
        mask=CDC_MASK,
    )
    chunks = staged.select(
        "doc_id", F.posexplode("chunks").alias("ci", "chunk")
    )
    w = Window.partitionBy("chunk").orderBy("doc_id", "ci")
    ranked = chunks.withColumn("__rn", F.row_number().over(w))
    dup = F.when(F.col("__rn") > 1, 1).otherwise(0)
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(dup).cast("bigint").alias("n_dup_chunks"),
        F.max(F.length("chunk")).alias("max_chunk_len"),
    )


TEXT_CDC_ORACLE = rf"""
WITH d AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
b AS (
  SELECT doc_id, s,
         CASE WHEN len(s) >= {CDC_K} THEN
           list_filter(range(1, len(s) - {CDC_K - 1} + 1),
             i -> ('0x' || substr(md5(substr(s, i, {CDC_K})), 1, 15))::BIGINT
                  % {CDC_MASK} = 0)
         ELSE [] END AS bs
  FROM d),
c AS (
  SELECT doc_id, s,
         list_concat([1], bs) AS starts,
         list_concat(list_transform(bs, x -> x - 1), [len(s)]) AS ends
  FROM b),
ch0 AS (
  SELECT doc_id,
         list_filter(
           list_transform(range(1, len(starts) + 1),
             j -> substr(s, starts[j], ends[j] - starts[j] + 1)),
           x -> x <> '') AS chunks
  FROM c),
ch AS (
  SELECT doc_id, u.ci - 1 AS ci, chunks[u.ci] AS chunk
  FROM ch0, UNNEST(generate_series(1, len(chunks))) AS u(ci)),
ranked AS (
  SELECT doc_id, ci, chunk,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, ci) AS rn
  FROM ch)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks,
       CAST(max(len(chunk)) AS INT) AS max_chunk_len
FROM ranked GROUP BY doc_id
"""


def a_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between click and
    view value distributions. D = max |F1 - F2| evaluated at distinct
    values with the INTEGER numerator |c1*n2 - c2*n1| (exact, engine-
    portable; the single division happens once at the end). Spark-first
    shape: the per-value tallies aggregate distributed; the global
    running-max window then runs over DISTINCT values only — bounded by
    the value domain (<= 49k two-decimal values here) regardless of
    corpus row count, so the single-partition window never grows with
    the data."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
        & F.col("value").isNotNull()
    )
    g = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("da"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("db"),
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    c = g.select(
        F.sum("da").over(w).alias("c1"), F.sum("db").over(w).alias("c2")
    )
    tot = g.agg(
        F.sum("da").cast("long").alias("n1"),
        F.sum("db").cast("long").alias("n2"),
    )
    num = c.crossJoin(F.broadcast(tot)).select(
        "n1",
        "n2",
        F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")).alias(
            "__num"
        ),
    )
    return num.groupBy("n1", "n2").agg(
        F.max("__num").alias("d_num")
    ).withColumn(
        "d_stat",
        F.col("d_num").cast("double")
        / (F.col("n1") * F.col("n2")).cast("double"),
    )


A_KS_ORACLE = """
WITH g AS (
  SELECT value,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS da,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS db
  FROM events
  WHERE event_type IN ('click', 'view') AND value IS NOT NULL
  GROUP BY value),
c AS (
  SELECT CAST(sum(da) OVER w AS BIGINT) AS c1,
         CAST(sum(db) OVER w AS BIGINT) AS c2
  FROM g
  WINDOW w AS (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
tot AS (
  SELECT CAST(sum(da) AS BIGINT) AS n1, CAST(sum(db) AS BIGINT) AS n2
  FROM g)
SELECT n1, n2, max(abs(c1 * n2 - c2 * n1)) AS d_num,
       CAST(max(abs(c1 * n2 - c2 * n1)) AS DOUBLE)
         / CAST(n1 * n2 AS DOUBLE) AS d_stat
FROM c, tot GROUP BY n1, n2
"""


def w_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar resampling: per (user, hour) open/high/low/close/count —
    the finance-standard downsample (A8's resample with order-aware
    first/last instead of sum/avg).  ``min_by``/``max_by`` over a
    (ts, event_id) struct keep the open/close deterministic under ties;
    no arithmetic at all, so the values hash exactly."""
    ev = _t(spark, sf_dir, "events")
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(
            F.min_by("value", ordk).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ordk).alias("close"),
            F.count(F.lit(1)).alias("n_trades"),
        )
    )


W_OHLC_ORACLE = """
WITH b AS (
  SELECT user_id, date_trunc('hour', ts) AS hour_ts, value, ts, event_id
  FROM events),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id, hour_ts
                            ORDER BY ts, event_id) AS ra,
         row_number() OVER (PARTITION BY user_id, hour_ts
                            ORDER BY ts DESC, event_id DESC) AS rd
  FROM b)
SELECT user_id, hour_ts,
       max(CASE WHEN ra = 1 THEN value END) AS open,
       max(value) AS high, min(value) AS low,
       max(CASE WHEN rd = 1 THEN value END) AS close,
       CAST(count(*) AS BIGINT) AS n_trades
FROM r GROUP BY 1, 2
"""


def w_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user: peak-to-trough drop of the cumulative
    running max over the time-ordered value series.  Exact integer
    cents throughout (running max and differences never touch floats);
    the dollar figure is a single final /100."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    c = F.round(F.col("value") * 100).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = ev.select(
        "user_id",
        (F.max(c).over(w) - c).alias("__dd"),
    )
    return dd.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("__dd").alias("max_drawdown_cents"),
        (F.max("__dd").cast("double") / F.lit(100.0)).alias("max_drawdown"),
    )


W_DRAWDOWN_ORACLE = """
WITH c AS (
  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS c, ts, event_id
  FROM events WHERE value IS NOT NULL),
d AS (
  SELECT user_id,
         max(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) - c AS dd
  FROM c)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(dd) AS BIGINT) AS max_drawdown_cents,
       CAST(max(dd) AS DOUBLE) / 100.0 AS max_drawdown
FROM d GROUP BY user_id
"""


def a_entropy_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional Shannon entropy of the user behaviour chain: for each
    from-state, H(next | prev) over the global transition counts (the
    information-theoretic summary of ``a_transition_matrix``).  Counts
    stay integer; H = ln(n) − Σ c·ln(c)/n touches floats only in the
    final expression, rounded to 6."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        ev.select(
            "user_id",
            F.col("event_type").alias("to_type"),
            F.lag("event_type").over(w).alias("from_type"),
            "ts",
            "event_id",
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return tr.groupBy("from_type").agg(
        F.sum("c").alias("n_trans"),
        F.round(
            F.log(F.sum("c").cast("double"))
            - F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
            / F.sum("c").cast("double"),
            6,
        ).alias("entropy_nats"),
    )


A_ENTROPY_TRANS_ORACLE = """
WITH s AS (
  SELECT user_id, event_type AS to_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS from_type
  FROM events),
tr AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS c
  FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2)
SELECT from_type, CAST(sum(c) AS BIGINT) AS n_trans,
       round(ln(CAST(sum(c) AS DOUBLE))
             - sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
               / CAST(sum(c) AS DOUBLE), 6) AS entropy_nats
FROM tr GROUP BY from_type
"""


def w_rolling_skewkurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 24-row skewness + excess kurtosis per event type, from
    EXACT integer power sums in deci-units (value*10 keeps d^4 well
    inside int64; cents would overflow at the 4th power) with one final
    float formula per row — the w_rolling_slope discipline extended to
    3rd/4th moments, because engine var/covar window aggregates drift
    across round(.,6) ties (r4 gotcha).  Full windows only."""
    return _rolling_skewkurt(
        spark, sf_dir, keys=["event_type"], rows=24, suffix="24"
    )


def w_rolling_skewkurt_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleet-keyed trailing skew/kurtosis: the SCALE.md valve for
    ``w_rolling_skewkurt`` made first-class — same exact-integer power
    sums, but the window partitions by (user_id, event_type), the key
    shape a real fleet has, so parallelism tracks |users| and the
    per-key n log n sort cost stays bounded as the corpus grows.
    12-row window (per-(user,type) series are shorter than the fleet
    aggregate; same formulas, same integer discipline)."""
    return _rolling_skewkurt(
        spark, sf_dir, keys=["user_id", "event_type"], rows=12, suffix="w"
    )


def _rolling_skewkurt(
    spark: SparkSession, sf_dir: str, *, keys: list[str], rows: int,
    suffix: str,
) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = F.round(F.col("value") * 10).cast("long")
    w = (
        Window.partitionBy(*keys)
        .orderBy("ts", "event_id")
        .rowsBetween(-(rows - 1), Window.currentRow)
    )
    wn = Window.partitionBy(*keys).orderBy("ts", "event_id")
    base = ev.select(
        *keys,
        "ts",
        "event_id",
        d.alias("__d"),
        F.row_number().over(wn).alias("__rn"),
    )
    s1 = F.sum("__d").over(w)
    s2 = F.sum(F.col("__d") * F.col("__d")).over(w)
    s3 = F.sum(F.col("__d") * F.col("__d") * F.col("__d")).over(w)
    s4 = F.sum(
        F.col("__d") * F.col("__d") * F.col("__d") * F.col("__d")
    ).over(w)
    stats = base.select(
        *keys,
        "ts",
        "event_id",
        s1.alias("__s1"),
        s2.alias("__s2"),
        s3.alias("__s3"),
        s4.alias("__s4"),
        "__rn",
    ).filter(F.col("__rn") >= rows)
    n = F.lit(float(rows))
    m1 = F.col("__s1").cast("double") / n
    m2 = F.col("__s2").cast("double") / n - m1 * m1
    m3c = (
        F.col("__s3").cast("double") / n
        - F.lit(3.0) * m1 * (F.col("__s2").cast("double") / n)
        + F.lit(2.0) * m1 * m1 * m1
    )
    m4c = (
        F.col("__s4").cast("double") / n
        - F.lit(4.0) * m1 * (F.col("__s3").cast("double") / n)
        + F.lit(6.0) * m1 * m1 * (F.col("__s2").cast("double") / n)
        - F.lit(3.0) * m1 * m1 * m1 * m1
    )
    return stats.select(
        *keys,
        "ts",
        "event_id",
        F.when(m2 > 0, F.round(m3c / (m2 * F.sqrt(m2)), 6)).alias(
            f"skew_{suffix}"
        ),
        F.when(m2 > 0, F.round(m4c / (m2 * m2) - F.lit(3.0), 6)).alias(
            f"exkurt_{suffix}"
        ),
    )


W_SKEWKURT_ORACLE = """
WITH b AS (
  SELECT event_type, ts, event_id, CAST(round(value * 10) AS BIGINT) AS d,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE value IS NOT NULL),
s AS (
  SELECT event_type, ts, event_id, rn,
         CAST(sum(d) OVER w AS BIGINT) AS s1,
         CAST(sum(d * d) OVER w AS BIGINT) AS s2,
         CAST(sum(d * d * d) OVER w AS BIGINT) AS s3,
         CAST(sum(d * d * d * d) OVER w AS BIGINT) AS s4
  FROM b
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
m AS (
  SELECT event_type, ts, event_id,
         CAST(s1 AS DOUBLE) / 24.0 AS m1,
         CAST(s2 AS DOUBLE) / 24.0 AS e2,
         CAST(s3 AS DOUBLE) / 24.0 AS e3,
         CAST(s4 AS DOUBLE) / 24.0 AS e4
  FROM s WHERE rn >= 24)
SELECT event_type, ts, event_id,
       CASE WHEN e2 - m1 * m1 > 0 THEN
         round((e3 - 3.0 * m1 * e2 + 2.0 * m1 * m1 * m1)
               / ((e2 - m1 * m1) * sqrt(e2 - m1 * m1)), 6) END AS skew_24,
       CASE WHEN e2 - m1 * m1 > 0 THEN
         round((e4 - 4.0 * m1 * e3 + 6.0 * m1 * m1 * e2
                - 3.0 * m1 * m1 * m1 * m1)
               / ((e2 - m1 * m1) * (e2 - m1 * m1)) - 3.0, 6) END AS exkurt_24
FROM m
"""


W_SKEWKURT_KEYED_ORACLE = """
WITH b AS (
  SELECT user_id, event_type, ts, event_id,
         CAST(round(value * 10) AS BIGINT) AS d,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE value IS NOT NULL),
s AS (
  SELECT user_id, event_type, ts, event_id, rn,
         CAST(sum(d) OVER w AS BIGINT) AS s1,
         CAST(sum(d * d) OVER w AS BIGINT) AS s2,
         CAST(sum(d * d * d) OVER w AS BIGINT) AS s3,
         CAST(sum(d * d * d * d) OVER w AS BIGINT) AS s4
  FROM b
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id
               ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)),
m AS (
  SELECT user_id, event_type, ts, event_id,
         CAST(s1 AS DOUBLE) / 12.0 AS m1,
         CAST(s2 AS DOUBLE) / 12.0 AS e2,
         CAST(s3 AS DOUBLE) / 12.0 AS e3,
         CAST(s4 AS DOUBLE) / 12.0 AS e4
  FROM s WHERE rn >= 12)
SELECT user_id, event_type, ts, event_id,
       CASE WHEN e2 - m1 * m1 > 0 THEN
         round((e3 - 3.0 * m1 * e2 + 2.0 * m1 * m1 * m1)
               / ((e2 - m1 * m1) * sqrt(e2 - m1 * m1)), 6) END AS skew_w,
       CASE WHEN e2 - m1 * m1 > 0 THEN
         round((e4 - 4.0 * m1 * e3 + 6.0 * m1 * m1 * e2
                - 3.0 * m1 * m1 * m1 * m1)
               / ((e2 - m1 * m1) * (e2 - m1 * m1)) - 3.0, 6) END AS exkurt_w
FROM m
"""


def a_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (click vs view values, the KS test's
    rank-based sibling).  Average ranks with ties are half-integers, so
    DOUBLED rank sums stay exact int64 (2·avgrank = 2·cumprev + cnt + 1);
    the tie-corrected z touches floats only in the single final
    formula.  U exact to the half; z rounded to 6."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
        & F.col("value").isNotNull()
    )
    g = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "da"
        ),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "db"
        ),
    )
    wv = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = g.select(
        "da",
        "db",
        (F.col("da") + F.col("db")).alias("cnt"),
        (F.sum(F.col("da") + F.col("db")).over(wv) - (F.col("da") + F.col("db"))).alias(
            "cumprev"
        ),
    )
    agg = r.agg(
        F.sum("da").alias("n1"),
        F.sum("db").alias("n2"),
        F.sum(
            F.col("da") * (F.lit(2) * F.col("cumprev") + F.col("cnt") + F.lit(1))
        ).alias("r1x2"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("tie_sum"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    nn = n1 + n2
    u1x2 = F.col("r1x2") - n1 * (n1 + F.lit(1))  # = 2*U1, exact int
    znum = (u1x2 - n1 * n2).cast("double")  # = 2*(U1 - n1 n2/2)
    var = (
        (n1 * n2).cast("double")
        / F.lit(12.0)
        * (
            (nn + F.lit(1)).cast("double")
            - F.col("tie_sum").cast("double")
            / (nn * (nn - F.lit(1))).cast("double")
        )
    )
    return agg.select(
        n1,
        n2,
        (u1x2.cast("double") / F.lit(2.0)).alias("u1"),
        F.round(
            F.when(var > 0, znum / (F.lit(2.0) * F.sqrt(var))), 6
        ).alias("z"),
    )


A_MANN_WHITNEY_ORACLE = """
WITH g AS (
  SELECT value,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS da,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS db
  FROM events
  WHERE event_type IN ('click', 'view') AND value IS NOT NULL
  GROUP BY value),
r AS (
  SELECT da, db, da + db AS cnt,
         CAST(sum(da + db) OVER (ORDER BY value
              ROWS UNBOUNDED PRECEDING) - (da + db) AS BIGINT) AS cumprev
  FROM g),
a AS (
  SELECT CAST(sum(da) AS BIGINT) AS n1, CAST(sum(db) AS BIGINT) AS n2,
         CAST(sum(da * (2 * cumprev + cnt + 1)) AS BIGINT) AS r1x2,
         CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_sum
  FROM r)
SELECT n1, n2,
       CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
       CASE WHEN n1 * n2 > 0 AND n1 + n2 > 1
             AND CAST(n1 + n2 + 1 AS DOUBLE)
                 - CAST(tie_sum AS DOUBLE)
                   / CAST((n1 + n2) * (n1 + n2 - 1) AS DOUBLE) > 0
       THEN
       round(CAST(r1x2 - n1 * (n1 + 1) - n1 * n2 AS DOUBLE)
             / (2.0 * sqrt(CAST(n1 * n2 AS DOUBLE) / 12.0
                 * (CAST(n1 + n2 + 1 AS DOUBLE)
                    - CAST(tie_sum AS DOUBLE)
                      / CAST((n1 + n2) * (n1 + n2 - 1) AS DOUBLE)))), 6)
       END AS z
FROM a
"""


def a_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for serial randomness, per event type:
    sign of value vs the per-type exact median (median-equal rows
    dropped), runs counted over the time order; z from the closed-form
    mean/variance.  Run/side counts exact integers; one final float
    expression."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    c = F.round(F.col("value") * 100).cast("long")
    base = ev.select("event_type", "ts", "event_id", c.alias("c"))
    med = base.groupBy("event_type").agg(
        F.percentile(F.col("c"), F.lit(0.5)).alias("med")
    )
    j = base.join(F.broadcast(med), "event_type").filter(
        F.col("c").cast("double") != F.col("med")
    )
    s = F.when(F.col("c").cast("double") > F.col("med"), 1).otherwise(-1)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = j.select(
        "event_type",
        s.alias("sgn"),
        F.lag(s).over(w).alias("prev"),
    )
    agg = seq.groupBy("event_type").agg(
        F.sum(F.when(F.col("sgn") == 1, 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(F.col("sgn") == -1, 1).otherwise(0)).alias("n_neg"),
        F.sum(
            F.when(
                F.col("prev").isNull() | (F.col("sgn") != F.col("prev")), 1
            ).otherwise(0)
        ).alias("runs"),
    )
    n1, n2, rr = F.col("n_pos"), F.col("n_neg"), F.col("runs")
    nn = (n1 + n2).cast("double")
    # 2*n1*n2 in DOUBLE from the start: the int64 product silently wraps
    # past ~2.1e9 counts per side (the 8x-sweep oracle raised the same
    # overflow loudly), and at 100 TB per-type counts get there. Left-
    # assoc op order mirrored exactly in the oracle SQL.
    two = F.lit(2.0) * n1.cast("double") * n2.cast("double")
    mu = two / nn + F.lit(1.0)
    var = (
        two * (two - nn) / (nn * nn * (nn - F.lit(1.0)))
    )
    return agg.select(
        "event_type",
        "n_pos",
        "n_neg",
        "runs",
        F.round(
            F.when(var > 0, (rr.cast("double") - mu) / F.sqrt(var)), 6
        ).alias("z"),
    )


A_RUNS_ORACLE = """
WITH b AS (
  SELECT event_type, ts, event_id, CAST(round(value * 100) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL),
m AS (
  SELECT event_type, median(c) AS med FROM b GROUP BY event_type),
j AS (
  SELECT b.event_type, ts, event_id,
         CASE WHEN CAST(c AS DOUBLE) > med THEN 1 ELSE -1 END AS sgn
  FROM b JOIN m ON b.event_type = m.event_type
  WHERE CAST(c AS DOUBLE) <> med),
s AS (
  SELECT event_type, sgn,
         lag(sgn) OVER (PARTITION BY event_type
                        ORDER BY ts, event_id) AS prev
  FROM j),
a AS (
  SELECT event_type,
         CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
         CAST(sum(CASE WHEN prev IS NULL OR sgn <> prev THEN 1 ELSE 0 END)
              AS BIGINT) AS runs
  FROM s GROUP BY event_type)
SELECT event_type, n_pos, n_neg, runs,
       CASE WHEN n_pos + n_neg > 1
             AND (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
                 * ((2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
                    - CAST(n_pos + n_neg AS DOUBLE)) > 0
       THEN
       round((CAST(runs AS DOUBLE)
              - ((2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
                 / CAST(n_pos + n_neg AS DOUBLE) + 1.0))
             / sqrt((2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
                    * ((2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
                       - CAST(n_pos + n_neg AS DOUBLE))
                    / (CAST(n_pos + n_neg AS DOUBLE)
                       * CAST(n_pos + n_neg AS DOUBLE)
                       * (CAST(n_pos + n_neg AS DOUBLE) - 1.0))), 6)
       END AS z
FROM a
"""


def a_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch with a PORTABLE hash —
    the fully-oracled member of the approximate-cardinality family
    (``a_approx_distinct``'s HLL++ is engine-internal and rows-only by
    necessity; KMV over md5-backed ``hash60`` is deterministic in both
    engines, bit for bit).  Estimator: (k−1)/u_(k) with u = hash/2^60;
    groups smaller than k fall back to the exact count — the standard
    KMV rule.  At 100 TB the k smallest hashes per group are a
    mergeable bounded-size state (partial TakeOrdered per partition)."""
    from cassandra_fs_pp_spark.functions.text import hash60

    K = 64
    ev = _t(spark, sf_dir, "events")
    d = ev.select("event_type", "user_id").distinct()
    u = (
        hash60(F.concat(F.lit("u"), F.col("user_id").cast("string")))
        .cast("double")
        / F.lit(1152921504606846976.0)  # 2^60
    )
    w = Window.partitionBy("event_type").orderBy("u", "user_id")
    r = d.select("event_type", "user_id", u.alias("u")).select(
        "event_type", "u", F.row_number().over(w).alias("rn")
    )
    agg = r.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.max(F.when(F.col("rn") == K, F.col("u"))).alias("uk"),
    )
    est = F.when(
        F.col("n_exact") >= K, F.lit(float(K - 1)) / F.col("uk")
    ).otherwise(F.col("n_exact").cast("double"))
    return agg.select(
        "event_type",
        "n_exact",
        F.round(est, 4).alias("kmv_est"),
        F.round(
            F.abs(est - F.col("n_exact").cast("double"))
            / F.col("n_exact").cast("double"),
            4,
        ).alias("rel_err"),
    )


A_KMV_ORACLE = """
WITH d AS (
  SELECT DISTINCT event_type, user_id FROM events),
h AS (
  SELECT event_type, user_id,
         CAST(('0x' || substr(md5('u' || CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) / 1152921504606846976.0 AS u
  FROM d),
r AS (
  SELECT event_type, u,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY u, user_id) AS rn
  FROM h),
a AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact,
         max(CASE WHEN rn = 64 THEN u END) AS uk
  FROM r GROUP BY event_type)
SELECT event_type, n_exact,
       round(CASE WHEN n_exact >= 64 THEN 63.0 / uk
                  ELSE CAST(n_exact AS DOUBLE) END, 4) AS kmv_est,
       round(abs(CASE WHEN n_exact >= 64 THEN 63.0 / uk
                      ELSE CAST(n_exact AS DOUBLE) END
                 - CAST(n_exact AS DOUBLE))
             / CAST(n_exact AS DOUBLE), 4) AS rel_err
FROM a
"""


def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance on the co-purchase graph (sources =
    part keys divisible by 97), ``operators/graph.py bfs_levels`` —
    frontier-expansion Pregel rounds, each one shuffle.  Unique
    integer-valued answer, so FULL hash oracle via a DuckDB
    UNION-dedup recursive CTE (min dist per reached node)."""
    from cassandra_fs_pp_spark.operators.graph import bfs_levels

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select("l_orderkey", "l_partkey")
    )
    e = (
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.filter(F.col("node") % 97 == 0)
    return bfs_levels(e, seeds, max_hops=8)


GRAPH_BFS_ORACLE = """
WITH RECURSIVE e0 AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a JOIN lineitem b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
    AND a.l_quantity >= 45 AND b.l_quantity >= 45),
sym AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
seeds AS (SELECT DISTINCT a AS n FROM sym WHERE a % 97 = 0),
bfs(n, dist) AS (
  SELECT n, 0 FROM seeds
  UNION
  SELECT s.b, bfs.dist + 1
  FROM bfs JOIN sym s ON s.a = bfs.n
  WHERE bfs.dist < 8
)
SELECT n AS node, CAST(min(dist) AS BIGINT) AS dist FROM bfs GROUP BY n
"""


def dq_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile drift between two epochs of the events table
    (null fraction + exact distinct count per column, first half-month
    vs the rest) with drift flags — the DQ gate a pipeline runs before
    accepting a new data drop.  Counts exact integers; ratios are one
    final division each."""
    ev = _t(spark, sf_dir, "events")
    e = ev.withColumn(
        "epoch",
        F.when(F.col("ts") < "2024-01-15", 1).otherwise(2),
    )
    cols = ["event_id", "user_id", "event_type", "value", "props"]
    aggs: list = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"nulls_{c}")
        )
        aggs.append(F.countDistinct(F.col(c)).alias(f"ndv_{c}"))
    wide = e.groupBy("epoch").agg(*aggs)
    stack_expr = "stack({n}, {body}) as (col_name, n_nulls, ndv)".format(
        n=len(cols),
        body=", ".join(f"'{c}', nulls_{c}, ndv_{c}" for c in cols),
    )
    long = wide.select("epoch", "n", F.expr(stack_expr))
    e1 = long.filter(F.col("epoch") == 1).select(
        "col_name",
        F.col("n").alias("n_1"),
        F.col("n_nulls").alias("nulls_1"),
        F.col("ndv").alias("ndv_1"),
    )
    e2 = long.filter(F.col("epoch") == 2).select(
        "col_name",
        F.col("n").alias("n_2"),
        F.col("n_nulls").alias("nulls_2"),
        F.col("ndv").alias("ndv_2"),
    )
    j = e1.join(e2, "col_name")
    nf1 = F.col("nulls_1").cast("double") / F.col("n_1").cast("double")
    nf2 = F.col("nulls_2").cast("double") / F.col("n_2").cast("double")
    ndv_ratio = F.col("ndv_2").cast("double") / F.col("ndv_1").cast("double")
    return j.select(
        "col_name",
        "n_1",
        "nulls_1",
        "ndv_1",
        "n_2",
        "nulls_2",
        "ndv_2",
        F.round(ndv_ratio, 6).alias("ndv_ratio"),
        F.round(nf2 - nf1, 6).alias("null_frac_delta"),
        (
            (F.abs(ndv_ratio - F.lit(1.0)) > F.lit(0.5))
            | (F.abs(nf2 - nf1) > F.lit(0.05))
        ).alias("drift_flag"),
    )


DQ_SCHEMA_DRIFT_ORACLE = """
WITH e AS (
  SELECT *, CASE WHEN ts < TIMESTAMP '2024-01-15' THEN 1 ELSE 2 END AS epoch
  FROM events),
w AS (
  SELECT epoch, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu_event_id,
    CAST(count(DISTINCT event_id) AS BIGINT) AS nd_event_id,
    CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu_user_id,
    CAST(count(DISTINCT user_id) AS BIGINT) AS nd_user_id,
    CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu_event_type,
    CAST(count(DISTINCT event_type) AS BIGINT) AS nd_event_type,
    CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu_value,
    CAST(count(DISTINCT value) AS BIGINT) AS nd_value,
    CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu_props,
    CAST(count(DISTINCT props) AS BIGINT) AS nd_props
  FROM e GROUP BY epoch),
long AS (
  SELECT epoch, n, 'event_id' AS col_name, nu_event_id AS n_nulls, nd_event_id AS ndv FROM w
  UNION ALL SELECT epoch, n, 'user_id', nu_user_id, nd_user_id FROM w
  UNION ALL SELECT epoch, n, 'event_type', nu_event_type, nd_event_type FROM w
  UNION ALL SELECT epoch, n, 'value', nu_value, nd_value FROM w
  UNION ALL SELECT epoch, n, 'props', nu_props, nd_props FROM w)
SELECT a.col_name,
       a.n AS n_1, a.n_nulls AS nulls_1, a.ndv AS ndv_1,
       b.n AS n_2, b.n_nulls AS nulls_2, b.ndv AS ndv_2,
       round(CAST(b.ndv AS DOUBLE) / CAST(a.ndv AS DOUBLE), 6) AS ndv_ratio,
       round(CAST(b.n_nulls AS DOUBLE) / CAST(b.n AS DOUBLE)
             - CAST(a.n_nulls AS DOUBLE) / CAST(a.n AS DOUBLE), 6)
         AS null_frac_delta,
       (abs(CAST(b.ndv AS DOUBLE) / CAST(a.ndv AS DOUBLE) - 1.0) > 0.5
        OR abs(CAST(b.n_nulls AS DOUBLE) / CAST(b.n AS DOUBLE)
               - CAST(a.n_nulls AS DOUBLE) / CAST(a.n AS DOUBLE)) > 0.05)
         AS drift_flag
FROM (SELECT * FROM long WHERE epoch = 1) a
JOIN (SELECT * FROM long WHERE epoch = 2) b ON a.col_name = b.col_name
"""


def w_kalman_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 1-D Kalman filter (constant-position model, q=0.1, r=1):
    predict p'=p+q, gain k=p'/(p'+r), update x'=x+k(z−x),
    p''=(1−k)p'.  Same struct-state ``aggregate`` fold discipline as
    ``ts_holt_linear``: every step is the identical IEEE expression tree
    in both engines, so the filtered state carries a FULL oracle via a
    recursive-CTE replay — no rounding needed.  Null observations are
    filtered up front (a single NULL would otherwise poison the folded
    state from that step onward), matching ``w_ewma_irregular``."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    g = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("__s")
    )
    g = g.select(
        "user_id",
        F.size("__s").alias("n_events"),
        F.expr("transform(__s, r -> r.value)").alias("__v"),
    )
    state = F.expr(
        "aggregate(slice(__v, 2, size(__v) - 1),"
        " named_struct('x', element_at(__v, 1), 'p', 1.0D),"
        " (s, z) -> named_struct("
        "   'x', s.x + ((s.p + 0.1D) / ((s.p + 0.1D) + 1.0D)) * (z - s.x),"
        "   'p', (1.0D - ((s.p + 0.1D) / ((s.p + 0.1D) + 1.0D)))"
        "        * (s.p + 0.1D)))"
    )
    return g.select(
        "user_id",
        "n_events",
        state.getField("x").alias("kalman_x"),
        state.getField("p").alias("kalman_p"),
    )


W_KALMAN_ORACLE = """
WITH l0 AS (
  SELECT user_id, list(value ORDER BY ts, event_id) AS v,
         CAST(len(list(value)) AS INT) AS n
  FROM events WHERE value IS NOT NULL GROUP BY user_id),
rec AS (
  WITH RECURSIVE r AS (
    SELECT user_id, 1 AS i, CAST(v[1] AS DOUBLE) AS x,
           CAST(1.0 AS DOUBLE) AS p, v, n
    FROM l0
    UNION ALL
    SELECT user_id, i + 1,
           x + ((p + 0.1) / ((p + 0.1) + 1.0)) * (v[i+1] - x),
           (1.0 - ((p + 0.1) / ((p + 0.1) + 1.0))) * (p + 0.1),
           v, n
    FROM r WHERE i < n
  )
  SELECT user_id, x, p, n FROM r WHERE i = n)
SELECT user_id, CAST(n AS BIGINT) AS n_events,
       x AS kalman_x, p AS kalman_p
FROM rec
"""


def ts_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization per user: the value series (time order) is
    z-normalized from EXACT integer cent sums, piecewise-aggregated
    into 8 segments (PAA), and each segment mean mapped to a 4-letter
    alphabet at the N(0,1) quartile breakpoints — the classic symbolic
    time-series representation for motif/anomaly search.  All
    arithmetic integer until one final z formula per segment."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    c = F.round(F.col("value") * 100).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.select(
        "user_id", c.alias("c"), F.row_number().over(w).alias("rn")
    )
    tot = base.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    seg = (
        base.join(tot.select("user_id", "n"), "user_id")
        .select(
            "user_id",
            "c",
            F.floor((F.col("rn") - 1) * 8 / F.col("n")).alias("seg"),
        )
        .groupBy("user_id", "seg")
        .agg(
            F.count(F.lit(1)).alias("n_in_seg"),
            F.sum("c").alias("segsum"),
        )
    )
    j = seg.join(tot, "user_id")
    m = F.col("s1").cast("double") / F.col("n").cast("double")
    var = F.col("s2").cast("double") / F.col("n").cast("double") - m * m
    z = (
        F.col("segsum").cast("double") / F.col("n_in_seg").cast("double") - m
    ) / F.sqrt(var)
    sym = (
        F.when(z < F.lit(-0.6745), "a")
        .when(z < F.lit(0.0), "b")
        .when(z < F.lit(0.6745), "c")
        .otherwise("d")
    )
    return j.select(
        "user_id",
        "seg",
        "n_in_seg",
        F.when(var > 0, F.round(z, 6)).alias("sax_z"),
        F.when(var > 0, sym).alias("symbol"),
    )


TS_SAX_ORACLE = """
WITH b AS (
  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS c,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE value IS NOT NULL),
tot AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS s1,
         CAST(sum(c * c) AS BIGINT) AS s2
  FROM b GROUP BY user_id),
seg AS (
  SELECT b.user_id, CAST(floor((rn - 1) * 8 / t.n) AS BIGINT) AS seg,
         CAST(count(*) AS BIGINT) AS n_in_seg,
         CAST(sum(c) AS BIGINT) AS segsum
  FROM b JOIN tot t ON b.user_id = t.user_id
  GROUP BY 1, 2),
j AS (
  SELECT s.user_id, seg, n_in_seg, segsum, n, s1, s2,
         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
         CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
           - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS var
  FROM seg s JOIN tot t ON s.user_id = t.user_id)
SELECT user_id, seg, n_in_seg,
       CASE WHEN var > 0 THEN
         round((CAST(segsum AS DOUBLE) / CAST(n_in_seg AS DOUBLE) - m)
               / sqrt(var), 6) END AS sax_z,
       CASE WHEN var > 0 THEN
         CASE WHEN (CAST(segsum AS DOUBLE) / CAST(n_in_seg AS DOUBLE) - m)
                   / sqrt(var) < -0.6745 THEN 'a'
              WHEN (CAST(segsum AS DOUBLE) / CAST(n_in_seg AS DOUBLE) - m)
                   / sqrt(var) < 0.0 THEN 'b'
              WHEN (CAST(segsum AS DOUBLE) / CAST(n_in_seg AS DOUBLE) - m)
                   / sqrt(var) < 0.6745 THEN 'c'
              ELSE 'd' END END AS symbol
FROM j
"""


def a_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test per user over the DAILY series —
    the rank-based significance companion to ``a_theil_sen``'s slope
    (same O(n) raw reduction, then O(days^2) pairs on the tiny daily
    aggregate).  S = Σ sign(y_j − y_i) over i<j is integer; the
    tie-corrected variance Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18
    uses integer tie-group counts; z applies the ±1 continuity
    correction.  Daily values are EXACT integer cents, so tie detection
    cannot drift across engines."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day_ts")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("yc"))
    a = daily.select(
        "user_id", F.col("day_ts").alias("ta"), F.col("yc").alias("ya")
    )
    b = daily.select(
        "user_id", F.col("day_ts").alias("tb"), F.col("yc").alias("yb")
    )
    s = (
        a.join(b, "user_id")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("user_id")
        .agg(
            F.sum(F.signum(F.col("yb") - F.col("ya")).cast("long")).alias(
                "s_stat"
            )
        )
    )
    n = daily.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_days"))
    ties = (
        daily.groupBy("user_id", "yc")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_term")
        )
    )
    j = s.join(n, "user_id").join(ties, "user_id")
    nn = F.col("n_days")
    var = (
        (nn * (nn - 1) * (2 * nn + 5) - F.col("tie_term")).cast("double")
        / F.lit(18.0)
    )
    # degenerate variance -> NULL z ("statistic undefined"), the same
    # convention as a_mann_whitney / a_runs_test; significance coalesces
    # to false so the boolean column stays non-null in both engines
    z = F.when(
        var > 0,
        (
            F.when(
                F.col("s_stat") > 0, (F.col("s_stat") - 1).cast("double")
            )
            .when(F.col("s_stat") < 0, (F.col("s_stat") + 1).cast("double"))
            .otherwise(F.lit(0.0))
        )
        / F.sqrt(var),
    )
    return j.select(
        "user_id",
        "n_days",
        "s_stat",
        F.round(var, 6).alias("var_s"),
        F.round(z, 6).alias("mk_z"),
        F.coalesce(F.abs(z) > F.lit(1.96), F.lit(False)).alias(
            "trend_significant"
        ),
    )


def a_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann robust location estimator per user: the median of
    all Walsh averages (pairwise means, i <= j) of the DAILY series —
    the location companion to ``a_theil_sen``'s slope and
    ``a_mann_kendall``'s trend test (same O(n) raw reduction, then
    O(days^2) pairs on the tiny daily aggregate). Pair sums stay EXACT
    integer cents-x2, so the median interpolation is .5-granular and
    bit-identical across engines."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day_ts")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("yc"))
    a = daily.select(
        "user_id", F.col("day_ts").alias("ta"), F.col("yc").alias("ya")
    )
    b = daily.select(
        "user_id", F.col("day_ts").alias("tb"), F.col("yc").alias("yb")
    )
    return (
        a.join(b, "user_id")
        .filter(F.col("ta") <= F.col("tb"))
        .select(
            "user_id",
            (F.col("ya") + F.col("yb")).cast("double").alias("w2"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.median("w2") / F.lit(200.0), 6).alias("hl_estimate"),
        )
    )


A_HODGES_LEHMANN_ORACLE = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day_ts,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS yc
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
SELECT a.user_id, CAST(count(*) AS BIGINT) AS n_pairs,
       round(median(CAST(a.yc + b.yc AS DOUBLE)) / 200.0, 6)
         AS hl_estimate
FROM daily a JOIN daily b
  ON a.user_id = b.user_id AND a.day_ts <= b.day_ts
GROUP BY 1
"""


A_MANN_KENDALL_ORACLE = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day_ts,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS yc
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
s AS (
  SELECT a.user_id,
         CAST(sum(CASE WHEN b.yc > a.yc THEN 1
                       WHEN b.yc < a.yc THEN -1 ELSE 0 END) AS BIGINT)
           AS s_stat
  FROM daily a JOIN daily b
    ON a.user_id = b.user_id AND a.day_ts < b.day_ts
  GROUP BY 1),
n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_days
      FROM daily GROUP BY 1),
ties AS (
  SELECT user_id,
         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
  FROM (SELECT user_id, yc, CAST(count(*) AS BIGINT) AS t
        FROM daily GROUP BY 1, 2)
  GROUP BY 1),
j AS (
  SELECT s.user_id, n_days, s_stat,
         CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term
              AS DOUBLE) / 18.0 AS var_s
  FROM s JOIN n ON s.user_id = n.user_id
  JOIN ties ON s.user_id = ties.user_id)
SELECT user_id, n_days, s_stat, round(var_s, 6) AS var_s,
       round(CASE WHEN var_s > 0 THEN
             (CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
                   WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
                   ELSE 0.0 END) / sqrt(var_s) ELSE NULL END, 6) AS mk_z,
       coalesce(abs(CASE WHEN var_s > 0 THEN
           (CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
                 WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
                 ELSE 0.0 END) / sqrt(var_s) ELSE NULL END) > 1.96, false)
         AS trend_significant
FROM j
"""


def w_ewma_irregular(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-aware EWMA for IRREGULARLY sampled series: the smoothing
    weight grows with the time gap, alpha_i = dt_i/(dt_i + tau)
    (rational decay, tau = 1 h) — a long silence means the new reading
    mostly replaces the stale state, where ``ts_ewma``'s fixed alpha
    would under-react.  The decay is pure +,-,*,/ on the struct-state
    fold (NO exp), so every step is IEEE-exact and identical in both
    engines: full oracle via recursive-CTE replay, no rounding."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    g = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
                    "event_id",
                    "value",
                )
            )
        ).alias("__s")
    )
    state = F.expr(
        "aggregate(slice(__s, 2, size(__s) - 1),"
        " named_struct('t', element_at(__s, 1).t,"
        "              's', element_at(__s, 1).value),"
        " (acc, r) -> named_struct("
        "   't', r.t,"
        "   's', acc.s + (cast(r.t - acc.t as double) / 1000000.0D"
        "                 / (cast(r.t - acc.t as double) / 1000000.0D"
        "                    + 3600.0D)) * (r.value - acc.s)))"
    )
    return g.select(
        "user_id",
        F.size("__s").alias("n_events"),
        state.getField("s").alias("ewma_last"),
    )


W_EWMA_IRR_ORACLE = """
WITH l0 AS (
  SELECT user_id,
         list(epoch_us(ts) ORDER BY ts, event_id) AS t,
         list(value ORDER BY ts, event_id) AS v,
         CAST(len(list(value)) AS INT) AS n
  FROM events WHERE value IS NOT NULL GROUP BY user_id),
rec AS (
  WITH RECURSIVE r AS (
    SELECT user_id, 1 AS i, CAST(v[1] AS DOUBLE) AS s, t, v, n
    FROM l0
    UNION ALL
    SELECT user_id, i + 1,
           s + (CAST(t[i+1] - t[i] AS DOUBLE) / 1000000.0
                / (CAST(t[i+1] - t[i] AS DOUBLE) / 1000000.0 + 3600.0))
               * (v[i+1] - s),
           t, v, n
    FROM r WHERE i < n
  )
  SELECT user_id, s, n FROM r WHERE i = n)
SELECT user_id, CAST(n AS BIGINT) AS n_events, s AS ewma_last
FROM rec
"""


def graph_jaccard_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard similarity join on the co-purchase graph:
    for node pairs sharing >= 2 common neighbors, |N(a) ∩ N(b)| /
    |N(a) ∪ N(b)| — the link-prediction / role-similarity primitive.
    Common-neighbor counts come from the same wedge-join shape as
    ``graph_triangle_count`` (pairs of each node's neighbor list, one
    shuffle on the wedge center; O(Σ deg²) bounded by the quantity
    filter), never an all-pairs node join.  Counts integer; the Jaccard
    is one exact division."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 46)
        .select("l_orderkey", "l_partkey")
    )
    e = (
        li.alias("x")
        .join(li.alias("y"), "l_orderkey")
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(
            F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b")
        )
        .distinct()
    )
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    # wedges: (u, w), (v, w) neighbors of center w -> pair (u, v), u < v
    common = (
        sym.alias("p")
        .join(
            sym.alias("q"),
            (F.col("p.b") == F.col("q.b")) & (F.col("p.a") < F.col("q.a")),
        )
        .groupBy(
            F.col("p.a").alias("u"), F.col("q.a").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= 2)
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    out = common.join(du, "u").join(dv, "v")
    union_sz = F.col("deg_u") + F.col("deg_v") - F.col("common")
    return out.select(
        "u",
        "v",
        "common",
        "deg_u",
        "deg_v",
        (F.col("common").cast("double") / union_sz.cast("double")).alias(
            "jaccard"
        ),
    )


GRAPH_JACCARD_ORACLE = """
WITH e0 AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM lineitem x JOIN lineitem y USING (l_orderkey)
  WHERE x.l_partkey < y.l_partkey
    AND x.l_quantity >= 46 AND y.l_quantity >= 46),
sym AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS deg
        FROM sym GROUP BY 1),
common AS (
  SELECT p.a AS u, q.a AS v, CAST(count(*) AS BIGINT) AS common
  FROM sym p JOIN sym q ON p.b = q.b AND p.a < q.a
  GROUP BY 1, 2 HAVING count(*) >= 2)
SELECT u, v, common, du.deg AS deg_u, dv.deg AS deg_v,
       CAST(common AS DOUBLE) / CAST(du.deg + dv.deg - common AS DOUBLE)
         AS jaccard
FROM common
JOIN deg du ON du.node = u
JOIN deg dv ON dv.node = v
"""


# --------------------------------------------------------------------------
# Round-7 batch 2 (earmarked for the r8 gate window alongside the
# r02-last-green tail): retrieval fusion, mixture design, corpus novelty,
# graph assortativity.


PRF_FB_DOCS = 5
PRF_EXP_TERMS = 3
PRF_MAX_DF = 50  # expansion candidates must be rarer than this corpus df
PRF_W_ORIG = 2  # Rocchio alpha/beta as integer weights — exact sums


def rag_prf_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio-style pseudo-relevance-feedback query expansion — the
    classic second-pass retriever beside the fusion combiners (RRF /
    min-max / MMR): (1) first-pass lexical retrieval picks the top-5
    pseudo-relevant docs; (2) the expansion terms are the 3 heaviest
    non-query terms in that feedback set, restricted to corpus-rare
    terms (df <= 50 — the stopword guard); (3) the whole corpus is
    re-scored with integer Rocchio weights (2x original terms + 1x
    expansion terms), top-10 ranked.  Every score is an exact integer
    sum (ties to lower doc_id / lexicographic term), so the oracle
    hash-matches with no float in sight.  Scale shape: term counts are
    map-side-combinable hash aggregations; the feedback set and the
    expansion-term set are <=5/<=3-row broadcasts; no window touches
    more than the 10 surviving rows."""
    from cassandra_fs_pp_spark.functions.text import whitespace_tokens

    docs = _t(spark, sf_dir, "documents")
    # lazy pin: the per-(doc, term) count table feeds FOUR consumers
    # with different downstream shapes (feedback top-5, corpus df,
    # original-term scores, expansion-term scores) — unpinned, the
    # scan+tokenize+agg subtree plans 5 times (measured 5 scans / 10
    # exchanges); pinned it computes once. The geo_grid_join
    # precedent's profitable case.
    tc = (
        docs.select(
            "doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("w")
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    fb = (
        tc.filter(F.col("w").isin(*BM25_TERMS))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("s0"))
        .orderBy(F.desc("s0"), F.asc("doc_id"))
        .limit(PRF_FB_DOCS)
    )
    dft = tc.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    exp = (
        tc.join(F.broadcast(fb.select("doc_id")), "doc_id")
        .filter(~F.col("w").isin(*BM25_TERMS))
        .groupBy("w")
        .agg(F.sum("c").alias("fb_c"))
        .join(dft, "w")
        .filter(F.col("df") <= PRF_MAX_DF)
        .orderBy(F.desc("fb_c"), F.asc("w"))
        .limit(PRF_EXP_TERMS)
    )
    s_orig = (
        tc.filter(F.col("w").isin(*BM25_TERMS))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("oc"))
    )
    s_exp = (
        tc.join(F.broadcast(exp.select("w")), "w")
        .groupBy("doc_id")
        .agg(F.sum("c").alias("ec"))
    )
    final = (
        s_orig.join(s_exp, "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                F.lit(PRF_W_ORIG) * F.coalesce(F.col("oc"), F.lit(0))
                + F.coalesce(F.col("ec"), F.lit(0))
            )
            .cast("long")
            .alias("prf_score"),
        )
        .orderBy(F.desc("prf_score"), F.asc("doc_id"))
        .limit(10)
    )
    wf = Window.orderBy(F.desc("prf_score"), F.asc("doc_id"))
    return final.withColumn("rank", F.row_number().over(wf))


RAG_PRF_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
  FROM documents
), tc AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
  FROM tok GROUP BY doc_id, w
), fb AS (
  SELECT doc_id FROM (
    SELECT doc_id, sum(c) AS s0 FROM tc
    WHERE w IN ('spark', 'join', 'window')
    GROUP BY doc_id ORDER BY s0 DESC, doc_id LIMIT {PRF_FB_DOCS})
), dft AS (
  SELECT w, count(*) AS df FROM tc GROUP BY w
), exp AS (
  SELECT e.w FROM (
    SELECT t.w, sum(t.c) AS fb_c
    FROM tc t JOIN fb ON t.doc_id = fb.doc_id
    WHERE t.w NOT IN ('spark', 'join', 'window')
    GROUP BY t.w) e
  JOIN dft ON dft.w = e.w
  WHERE dft.df <= {PRF_MAX_DF}
  ORDER BY e.fb_c DESC, e.w LIMIT {PRF_EXP_TERMS}
), s_orig AS (
  SELECT doc_id, sum(c) AS oc FROM tc
  WHERE w IN ('spark', 'join', 'window') GROUP BY doc_id
), s_exp AS (
  SELECT t.doc_id, sum(t.c) AS ec
  FROM tc t JOIN exp ON t.w = exp.w GROUP BY t.doc_id
), final AS (
  SELECT coalesce(o.doc_id, x.doc_id) AS doc_id,
         CAST({PRF_W_ORIG} * coalesce(o.oc, 0) + coalesce(x.ec, 0)
              AS BIGINT) AS prf_score
  FROM s_orig o FULL JOIN s_exp x ON o.doc_id = x.doc_id
  ORDER BY prf_score DESC, doc_id LIMIT 10
)
SELECT doc_id, prf_score,
       CAST(row_number() OVER (ORDER BY prf_score DESC, doc_id) AS INT)
         AS rank
FROM final
"""


LATE_Q_TOKENS = 4
LATE_GROUP = 4


def rag_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction retrieval (MaxSim): the query is a
    BAG of token vectors (vec_ids 0..3), each document a bag of up to 4
    token vectors (vec_id div 4 groups the corpus), and the document
    score is sum over query tokens of the max cosine against any of the
    document's vectors — the modern multi-vector retrieval shape beside
    the single-vector rankers.  Exactness: every cosine uses the same
    left-to-right ``dot`` fold the green hybrid oracles hash-match; the
    per-(doc, qtoken) max is exact selection; and the 4-term MaxSim sum
    is written as the FIXED left-associated expression ((m0+m1)+m2)+m3
    in both engines (a bare SUM over a group would add in partition
    order and drift).  Scale shape: the 4-row query bag broadcasts; one
    hash aggregation per (group, qtoken) then per group; no window
    touches more than the 10 surviving rows."""
    from cassandra_fs_pp_spark.operators.similarity import dot, l2_norm

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < LATE_Q_TOKENS).select(
        F.col("vec_id").alias("qt"),
        F.col("embedding").alias("qv"),
        l2_norm(F.col("embedding")).alias("qn"),
    )
    d = emb.filter(F.col("vec_id") >= LATE_Q_TOKENS).select(
        F.expr(f"vec_id div {LATE_GROUP}").alias("grp"),
        F.col("embedding").alias("dv"),
        l2_norm(F.col("embedding")).alias("dn"),
    )
    cos = d.crossJoin(F.broadcast(q)).select(
        "grp",
        "qt",
        (dot(F.col("dv"), F.col("qv")) / (F.col("dn") * F.col("qn"))).alias(
            "cos"
        ),
    )
    m = cos.groupBy("grp").agg(
        *[
            F.max(F.when(F.col("qt") == i, F.col("cos"))).alias(f"m{i}")
            for i in range(LATE_Q_TOKENS)
        ]
    )
    score = (
        (F.col("m0") + F.col("m1")) + F.col("m2")
    ) + F.col("m3")
    final = (
        m.select(F.col("grp").alias("doc_group"), score.alias("maxsim"))
        .orderBy(F.desc("maxsim"), F.asc("doc_group"))
        .limit(10)
    )
    wf = Window.orderBy(F.desc("maxsim"), F.asc("doc_group"))
    return final.withColumn("rank", F.row_number().over(wf))


RAG_LATE_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS qt, embedding::DOUBLE[] AS qv,
         sqrt(list_dot_product(embedding::DOUBLE[],
                               embedding::DOUBLE[])) AS qn
  FROM embeddings WHERE vec_id < {LATE_Q_TOKENS}
), d AS (
  SELECT vec_id // {LATE_GROUP} AS grp, embedding::DOUBLE[] AS dv,
         sqrt(list_dot_product(embedding::DOUBLE[],
                               embedding::DOUBLE[])) AS dn
  FROM embeddings WHERE vec_id >= {LATE_Q_TOKENS}
), cos AS (
  SELECT grp, qt,
         list_dot_product(dv, qv) / (dn * qn) AS cos
  FROM d CROSS JOIN q
), m AS (
  SELECT grp,
         max(CASE WHEN qt = 0 THEN cos END) AS m0,
         max(CASE WHEN qt = 1 THEN cos END) AS m1,
         max(CASE WHEN qt = 2 THEN cos END) AS m2,
         max(CASE WHEN qt = 3 THEN cos END) AS m3
  FROM cos GROUP BY grp
), final AS (
  SELECT grp AS doc_group, ((m0 + m1) + m2) + m3 AS maxsim
  FROM m ORDER BY maxsim DESC, doc_group LIMIT 10
)
SELECT doc_group, maxsim,
       CAST(row_number() OVER (ORDER BY maxsim DESC, doc_group) AS INT)
         AS rank
FROM final
"""


def rag_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (k=60) of a lexical and a dense retriever —
    the standard hybrid-retrieval combiner. Lexical: query-term
    occurrence count per document (postings pruned off the explode).
    Dense: exact cosine against one stored query vector (attached via a
    1-row broadcast, never collected). Each retriever's top-20 comes
    from TakeOrdered — the only unpartitioned windows run over the <=20
    surviving rows — and the fused score 1/(60+ra) + 1/(60+rb) is a sum
    of two exact integer-denominator divisions, so both engines agree
    bit-for-bit with no rounding."""
    from cassandra_fs_pp_spark.functions.text import whitespace_tokens
    from cassandra_fs_pp_spark.operators.similarity import dot, l2_norm

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    tok = docs.select(
        "doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("w")
    )
    lex = (
        tok.filter(F.col("w").isin(*BM25_TERMS))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("lex_score"))
        .orderBy(F.desc("lex_score"), F.asc("doc_id"))
        .limit(20)
    )
    wa = Window.orderBy(F.desc("lex_score"), F.asc("doc_id"))
    lex_top = lex.select("doc_id", F.row_number().over(wa).alias("ra"))
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), l2_norm(F.col("embedding")).alias("qn")
    )
    dense = (
        emb.crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            (
                dot(F.col("embedding"), F.col("qv"))
                / (l2_norm(F.col("embedding")) * F.col("qn"))
            ).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("doc_id"))
        .limit(20)
    )
    wb = Window.orderBy(F.desc("cos"), F.asc("doc_id"))
    dense_top = dense.select("doc_id", F.row_number().over(wb).alias("rb"))
    fused = (
        lex_top.join(dense_top, "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                F.coalesce(1.0 / (F.col("ra") + 60), F.lit(0.0))
                + F.coalesce(1.0 / (F.col("rb") + 60), F.lit(0.0))
            ).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(10)
    )
    wf = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))
    return fused.withColumn("rank", F.row_number().over(wf))


def _hybrid_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared candidate builder for the score-normalized hybrid
    combiners (``rag_hybrid_minmax``, ``rag_mmr_rerank``): each
    retriever's top-20 scores min-max normalized over that top-k
    (degenerate all-equal lists normalize to 1.0), fused as
    ``0.5 * lex + 0.5 * dense`` — returns the un-limited fused frame
    ``(doc_id, hybrid)``. The min/max scalars attach via 1-row
    broadcast crossJoin (never collected)."""
    from cassandra_fs_pp_spark.functions.text import whitespace_tokens
    from cassandra_fs_pp_spark.operators.similarity import dot, l2_norm

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    tok = docs.select(
        "doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("w")
    )
    lex = (
        tok.filter(F.col("w").isin(*BM25_TERMS))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("double").alias("s"))
        .orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(20)
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), l2_norm(F.col("embedding")).alias("qn")
    )
    dense = (
        emb.crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            (
                dot(F.col("embedding"), F.col("qv"))
                / (l2_norm(F.col("embedding")) * F.col("qn"))
            ).alias("s"),
        )
        .orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(20)
    )

    def norm(top: DataFrame, out: str) -> DataFrame:
        mm = top.agg(
            F.min("s").alias("__lo"), F.max("s").alias("__hi")
        )
        return top.crossJoin(F.broadcast(mm)).select(
            "doc_id",
            F.when(
                F.col("__hi") > F.col("__lo"),
                (F.col("s") - F.col("__lo"))
                / (F.col("__hi") - F.col("__lo")),
            )
            .otherwise(F.lit(1.0))
            .alias(out),
        )

    return (
        norm(lex, "nlex")
        .join(norm(dense, "ndense"), "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                F.coalesce(F.col("nlex"), F.lit(0.0)) * 0.5
                + F.coalesce(F.col("ndense"), F.lit(0.0)) * 0.5
            ).alias("hybrid"),
        )
    )


def rag_hybrid_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense+sparse hybrid retrieval with SCORE normalization — the other
    standard combiner beside rank-based RRF (``rag_rrf_fusion``); see
    ``_hybrid_fused`` for the normalization/fusion exactness argument:
    integer lexical counts, the same bit-matching cosine fold as the
    green RRF oracle, and single correctly-rounded IEEE min/max/divide/
    blend ops — the fused doubles hash-match with no rounding."""
    fused = _hybrid_fused(spark, sf_dir).orderBy(
        F.desc("hybrid"), F.asc("doc_id")
    ).limit(10)
    wf = Window.orderBy(F.desc("hybrid"), F.asc("doc_id"))
    return fused.withColumn("rank", F.row_number().over(wf))


MMR_K = 10
MMR_LAMBDA = 0.7
MMR_MU = 0.3  # diversity weight as its own literal: 1.0 - 0.7 is
              # 0.30000000000000004 in IEEE — never derive it


def rag_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversity re-rank of the hybrid top-20
    — completes the standard RAG combiner set (RRF + min-max + MMR).
    Greedy: pick argmax ``0.7*rel - 0.3*max_sim_to_selected`` (first
    pick: max-sim term is 0.0), ties to the lower doc_id.  Scale shape:
    candidate generation is fully distributed; the re-rank itself is
    per-query bounded work (k<=20 candidates), so the pairwise cosines
    come from a broadcast self-join of the candidate embeddings (<=380
    rows, computed with the SAME ``dot`` fold the green hybrid oracle
    hash-matches) and the greedy loop runs in one Arrow-batched
    ``applyInPandas`` group per query — never a driver collect.
    Exactness: the loop only does multiply/subtract/max on
    already-bit-identical doubles, each a single correctly-rounded IEEE
    op, so the oracle's 10-step unrolled MATERIALIZED-CTE replay
    hash-matches."""
    from cassandra_fs_pp_spark.operators.similarity import dot, l2_norm

    emb = _t(spark, sf_dir, "embeddings")
    # lazy pin (r10): the <=20-row candidate set now has TWO consumers
    # with different downstream shapes — the broadcast embedding-attach
    # side AND the greedy seed union — so the whole hybrid pipeline
    # would otherwise compute twice (measured 3.35 s vs 1.66 s pinned
    # at sf0.1). The r9 note ("ReusedExchange collapses it, don't pin")
    # predates the seed branch; the union side is not exchange-shaped.
    cand = (
        _hybrid_fused(spark, sf_dir)
        .orderBy(F.desc("hybrid"), F.asc("doc_id"))
        .limit(20)
        .select("doc_id", F.col("hybrid").alias("rel"))
        .localCheckpoint(eager=False)
    )
    # the <=20-row candidate set drives BOTH pair sides: broadcast it
    # into the embedding attach so the corpus side streams through a
    # hash join instead of shuffling on doc_id. No lazy pin: the
    # duplicated subtree collapses via ReusedExchange on its own (a
    # checkpoint adds a materialization pass for nothing — warm A/B
    # showed all variants within noise, so plan shape decides).
    ce = emb.select(F.col("vec_id").alias("doc_id"), "embedding").join(
        F.broadcast(cand), "doc_id"
    )
    a = ce.select(
        F.col("doc_id").alias("a"),
        F.col("rel").alias("rel_a"),
        F.col("embedding").alias("ea"),
    )
    b = ce.select(F.col("doc_id").alias("b"), F.col("embedding").alias("eb"))
    pairs = (
        a.join(F.broadcast(b), F.col("a") != F.col("b"))
        .select(
            "a",
            "rel_a",
            "b",
            (
                dot(F.col("ea"), F.col("eb"))
                / (l2_norm(F.col("ea")) * l2_norm(F.col("eb")))
            ).alias("s"),
        )
        .withColumn("query_id", F.lit(0))
    )
    # seed the greedy from the CANDIDATE set, not the pairs frame
    # (ADVICE r9): a candidate doc_id missing from embeddings still
    # participates in the oracle's step 1 (sel1 picks FROM cand), and a
    # <=1-candidate set yields zero pairs — the null-b seed rows keep
    # the applyInPandas group non-empty in both cases.
    seed = cand.select(
        F.col("doc_id").alias("a"),
        F.col("rel").alias("rel_a"),
        F.lit(None).cast("long").alias("b"),
        F.lit(None).cast("double").alias("s"),
        F.lit(0).alias("query_id"),
    )
    greedy_in = pairs.unionByName(seed)

    lam, mu, k = MMR_LAMBDA, MMR_MU, MMR_K

    def _greedy(pdf):
        import pandas as pd

        if pdf.empty:
            return pd.DataFrame(
                {"doc_id": [], "rank": [], "rel": [], "mmr_score": []}
            )
        rel = {
            int(r.a): float(r.rel_a)
            for r in pdf[["a", "rel_a"]].drop_duplicates().itertuples()
        }
        sim = {
            (int(r.a), int(r.b)): float(r.s)
            for r in pdf.itertuples()
            if not pd.isna(r.b)
        }
        remaining = sorted(rel)
        selected: list[int] = []
        out = []
        for rank in range(1, k + 1):
            best_d, best_score = None, None
            for d in remaining:
                if selected:
                    # mirror the oracle's INNER join to sim: a candidate
                    # with no sim edge to any selected doc is excluded
                    # from this step (true max otherwise — can be
                    # negative)
                    edges = [
                        sim[(d, s_)] for s_ in selected if (d, s_) in sim
                    ]
                    if not edges:
                        continue
                    ms = max(edges)
                else:
                    # 0.0 only for the empty set, mirroring the oracle's
                    # step-1 special case
                    ms = 0.0
                score = lam * rel[d] - mu * ms
                if best_score is None or score > best_score:
                    best_d, best_score = d, score
            if best_d is None:
                break  # no eligible candidate; selection can't grow
            out.append((best_d, rank, rel[best_d], best_score))
            selected.append(best_d)
            remaining.remove(best_d)
        return pd.DataFrame(
            out, columns=["doc_id", "rank", "rel", "mmr_score"]
        )

    return (
        greedy_in.groupBy("query_id")
        .applyInPandas(
            _greedy, "doc_id long, rank int, rel double, mmr_score double"
        )
        .orderBy("rank")
    )


def _mmr_sql() -> str:
    """10-step unrolled greedy MMR replay (MATERIALIZED CTEs so DuckDB
    doesn't inline the selection chain exponentially)."""
    head = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
  FROM documents
), lex AS (
  SELECT doc_id, CAST(count(*) AS DOUBLE) AS s
  FROM tok WHERE w IN ('spark', 'join', 'window') GROUP BY 1
  ORDER BY s DESC, doc_id LIMIT 20
), lexn AS (
  SELECT doc_id,
         CASE WHEN max(s) OVER () > min(s) OVER ()
              THEN (s - min(s) OVER ()) / (max(s) OVER () - min(s) OVER ())
              ELSE 1.0 END AS nlex
  FROM lex
), q AS (
  SELECT embedding AS qv,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS qn
  FROM embeddings WHERE vec_id = 0
), dense AS (
  SELECT vec_id AS doc_id,
         list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[])
           / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                    e.embedding::DOUBLE[])) * q.qn) AS s
  FROM embeddings e CROSS JOIN q
  ORDER BY s DESC, doc_id LIMIT 20
), densen AS (
  SELECT doc_id,
         CASE WHEN max(s) OVER () > min(s) OVER ()
              THEN (s - min(s) OVER ()) / (max(s) OVER () - min(s) OVER ())
              ELSE 1.0 END AS ndense
  FROM dense
), fused AS (
  SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
         coalesce(nlex, 0.0) * 0.5 + coalesce(ndense, 0.0) * 0.5 AS hybrid
  FROM lexn l FULL JOIN densen d ON l.doc_id = d.doc_id
), cand AS MATERIALIZED (
  SELECT doc_id, hybrid AS rel FROM fused
  ORDER BY hybrid DESC, doc_id LIMIT 20
), ce AS MATERIALIZED (
  SELECT c.doc_id, c.rel, e.embedding
  FROM cand c JOIN embeddings e ON e.vec_id = c.doc_id
), sim AS MATERIALIZED (
  SELECT x.doc_id AS a, y.doc_id AS b,
         list_dot_product(x.embedding::DOUBLE[], y.embedding::DOUBLE[])
           / (sqrt(list_dot_product(x.embedding::DOUBLE[],
                                    x.embedding::DOUBLE[]))
              * sqrt(list_dot_product(y.embedding::DOUBLE[],
                                      y.embedding::DOUBLE[]))) AS s
  FROM ce x JOIN ce y ON x.doc_id <> y.doc_id
), sel1 AS MATERIALIZED (
  SELECT doc_id, 1 AS rank, rel, {lam} * rel - {mu} * 0.0 AS mmr_score
  FROM cand ORDER BY rel DESC, doc_id LIMIT 1
)"""
    lam, mu = repr(MMR_LAMBDA), repr(MMR_MU)
    parts = [head.replace("{lam}", lam).replace("{mu}", mu)]
    for i in range(2, MMR_K + 1):
        prev = f"sel{i - 1}"
        parts.append(
            f""", p{i} AS MATERIALIZED (
  SELECT c.doc_id, {i} AS rank, c.rel,
         {lam} * c.rel - {mu} * max(s.s) AS mmr_score
  FROM cand c
  JOIN sim s ON s.a = c.doc_id
  JOIN {prev} t ON s.b = t.doc_id
  WHERE c.doc_id NOT IN (SELECT doc_id FROM {prev})
  GROUP BY c.doc_id, c.rel
  ORDER BY mmr_score DESC, c.doc_id LIMIT 1
), sel{i} AS MATERIALIZED (
  SELECT * FROM {prev} UNION ALL SELECT * FROM p{i}
)"""
        )
    parts.append(
        f"""
SELECT doc_id, CAST(rank AS INT) AS rank, rel, mmr_score
FROM sel{MMR_K} ORDER BY rank"""
    )
    return "".join(parts)


RAG_HYBRID_ORACLE = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
  FROM documents
), lex AS (
  SELECT doc_id, CAST(count(*) AS DOUBLE) AS s
  FROM tok WHERE w IN ('spark', 'join', 'window') GROUP BY 1
  ORDER BY s DESC, doc_id LIMIT 20
), lexn AS (
  SELECT doc_id,
         CASE WHEN max(s) OVER () > min(s) OVER ()
              THEN (s - min(s) OVER ()) / (max(s) OVER () - min(s) OVER ())
              ELSE 1.0 END AS nlex
  FROM lex
), q AS (
  SELECT embedding AS qv,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS qn
  FROM embeddings WHERE vec_id = 0
), dense AS (
  SELECT vec_id AS doc_id,
         list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[])
           / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                    e.embedding::DOUBLE[])) * q.qn) AS s
  FROM embeddings e CROSS JOIN q
  ORDER BY s DESC, doc_id LIMIT 20
), densen AS (
  SELECT doc_id,
         CASE WHEN max(s) OVER () > min(s) OVER ()
              THEN (s - min(s) OVER ()) / (max(s) OVER () - min(s) OVER ())
              ELSE 1.0 END AS ndense
  FROM dense
), fused AS (
  SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
         coalesce(nlex, 0.0) * 0.5 + coalesce(ndense, 0.0) * 0.5 AS hybrid
  FROM lexn l FULL JOIN densen d ON l.doc_id = d.doc_id
)
SELECT doc_id, hybrid,
       CAST(row_number() OVER (ORDER BY hybrid DESC, doc_id) AS INT) AS rank
FROM fused ORDER BY hybrid DESC, doc_id LIMIT 10
"""


RAG_RRF_ORACLE = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
  FROM documents
), lex AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS lex_score
  FROM tok WHERE w IN ('spark', 'join', 'window') GROUP BY 1
  ORDER BY lex_score DESC, doc_id LIMIT 20
), lex_top AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY lex_score DESC, doc_id) AS INT)
           AS ra
  FROM lex
), q AS (
  SELECT embedding AS qv,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS qn
  FROM embeddings WHERE vec_id = 0
), dense AS (
  SELECT vec_id AS doc_id,
         list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[])
           / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                    e.embedding::DOUBLE[])) * q.qn) AS cos
  FROM embeddings e CROSS JOIN q
  ORDER BY cos DESC, doc_id LIMIT 20
), dense_top AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INT) AS rb
  FROM dense
), fused AS (
  SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
         coalesce(1.0 / (ra + 60), 0.0) + coalesce(1.0 / (rb + 60), 0.0)
           AS rrf
  FROM lex_top l FULL JOIN dense_top d ON l.doc_id = d.doc_id
)
SELECT doc_id, rrf,
       CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rank
FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
"""


MIXTURE_ALPHA = 0.7


def curation_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source-mixture design (the multilingual /
    multi-source sampling trick): raw share p_i = n_i / N is flattened to
    p_i^alpha (alpha = 0.7), so rare sources are upsampled relative to
    their natural frequency. Weights are reported relative to the LARGEST
    flattened weight — max is order-insensitive, so the result is
    engine-deterministic, where normalizing by the SUM of pow() doubles
    would hang the hash on float addition order. Two skinny aggregates;
    map-only otherwise."""
    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = per.agg(
        F.sum("n_docs").cast("double").alias("__N"),
        F.max(
            F.pow(F.col("n_docs").cast("double"), MIXTURE_ALPHA)
        ).alias("__wmax_num"),
    )
    # p^a / max(p^a) == n^a / max(n^a): the N^a factor cancels, keeping
    # pow() on exact integers-as-doubles in both engines
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.round(F.col("n_docs") / F.col("__N"), 8).alias("raw_share"),
            F.round(
                F.pow(F.col("n_docs").cast("double"), MIXTURE_ALPHA)
                / F.col("__wmax_num"),
                8,
            ).alias("rel_weight"),
        )
    )


CURATION_MIXTURE_ORACLE = """
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1),
tot AS (
  SELECT CAST(sum(n_docs) AS DOUBLE) AS n,
         max(pow(CAST(n_docs AS DOUBLE), 0.7)) AS wmax_num
  FROM per)
SELECT source, n_docs,
       round(n_docs / n, 8) AS raw_share,
       round(pow(CAST(n_docs AS DOUBLE), 0.7) / wmax_num, 8) AS rel_weight
FROM per, tot
"""


def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-order novelty curve: per document, the fraction of its
    DISTINCT 8-grams never seen in any earlier document (doc_id order) —
    the dataset-ordering diagnostic behind curriculum/dedup decisions.
    First occurrence is a min aggregate per gram (narrow keys), joined
    back onto the distinct (doc, gram) rows; no window over the corpus."""
    from cassandra_fs_pp_spark.functions.curation import ngram_rows

    docs = _t(spark, sf_dir, "documents")
    grams = ngram_rows(docs, "doc_id", "text", 8).distinct()
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double")
                / F.col("n_grams").cast("double"),
                6,
            ).alias("novelty"),
        )
    )


TEXT_NOVELTY_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS gram
  FROM toks, UNNEST(generate_series(1, len(t) - 7)) AS u(i)
  WHERE len(t) >= 8),
first AS (
  SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY 1)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       round(CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS novelty
FROM grams g JOIN first f USING (gram)
GROUP BY 1
"""


def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Pearson correlation of endpoint degrees over
    directed edges) on the same co-purchase graph as
    ``graph_jaccard_similarity`` — do high-degree nodes attach to other
    hubs? All five moment sums stay EXACT integers (degrees are counts);
    the single division + sqrt at the end is IEEE-identical in both
    engines. One self-join builds edges, one agg per endpoint attaches
    degrees — no iteration, no corpus-wide window."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 46)
        .select("l_orderkey", "l_partkey")
    )
    x, y = li.alias("x"), li.alias("y")
    e0 = (
        x.join(y, "l_orderkey")
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(
            F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b")
        )
        .distinct()
    )
    sym = e0.unionByName(
        e0.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg")).withColumnRenamed(
        "a", "node"
    )
    edges = (
        sym.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("dx")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("dy")), "b")
    )
    agg = edges.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
    )
    r = (
        (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / F.sqrt(
            (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
            * (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                "double"
            )
        )
    )
    return agg.select(
        F.col("m").alias("n_directed_edges"),
        F.round(r, 6).alias("assortativity"),
    )


GRAPH_ASSORT_ORACLE = """
WITH e0 AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM lineitem x JOIN lineitem y USING (l_orderkey)
  WHERE x.l_partkey < y.l_partkey
    AND x.l_quantity >= 46 AND y.l_quantity >= 46),
sym AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS deg
        FROM sym GROUP BY 1),
edges AS (
  SELECT du.deg AS dx, dv.deg AS dy
  FROM sym JOIN deg du ON du.node = sym.a
           JOIN deg dv ON dv.node = sym.b),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
         CAST(sum(dx * dx) AS BIGINT) AS sxx,
         CAST(sum(dy * dy) AS BIGINT) AS syy,
         CAST(sum(dx * dy) AS BIGINT) AS sxy
  FROM edges)
SELECT m AS n_directed_edges,
       round(CAST(m * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
                    * CAST(m * syy - sy * sy AS DOUBLE)), 6)
         AS assortativity
FROM m
"""


QueryFn = Callable[[SparkSession, str], DataFrame]


def _registry() -> list[tuple[QueryFn, str | None]]:
    # The query registry: one row per query, ``(fn, oracle)``.
    # The query's name is ``fn.__name__``; ``oracle`` is the DuckDB SQL the
    # correctness gate compares its result with, or None for a rows-only
    # query.  ``queries()`` and ``oracle_sql()`` both derive from this list.
    #
    # Row order is the registry order, and the correctness gate
    # samples its first 50 rows (the window).  Every window row needs an
    # oracle.  To add a query, define its function and oracle above and
    # add a row; to put a changed query back under the gate, move its row
    # to the top.  Built per call, not at import: some oracles read
    # ``$SF_DIR`` when built (``_layout_file_stats_oracle``).
    return [
        (ann_ivf_pq_topk, ANN_IVF_PQ_ORACLE),
        (ann_ivf_adc_topk, ANN_IVF_ADC_ORACLE),
        (ann_adc_topk, ANN_ADC_ORACLE),
        (ann_lsh_topk, _lsh_topk_sql()),
        (emb_near_dups, EMB_NEAR_DUPS_ORACLE),
        (dedup_minhash_cluster, _minhash_cluster_sql()),
        (text_bpe_merges_batched, TEXT_BPE_MERGES_BATCHED_ORACLE),
        (text_bpe_pipeline, TEXT_BPE_PIPELINE_ORACLE),
        (fleet_udg_filter, FLEET_UDG_ORACLE),
        (fleet_tdr_depth, FLEET_TDR_ORACLE),
        (emb_semantic_dedup, _semantic_dedup_sql()),
        (geo_grid_join, GEO_GRID_ORACLE),
        (geo_point_in_polygon, _geo_pip_oracle_sql()),
        (curation_decontaminate, CURATION_DECONTAM_ORACLE),
        (curation_logreg_trained, CURATION_LOGREG_TRAINED_ORACLE),
        (curation_dsir_select, CURATION_DSIR_ORACLE),
        (text_repetition_flags, TEXT_REPETITION_FLAGS_ORACLE),
        (curation_pretrain_pipeline, CURATION_PRETRAIN_PIPELINE_ORACLE),
        (fuzzy_match_join, FUZZY_MATCH_ORACLE),
        (graph_kcore, GRAPH_KCORE_ORACLE),
        (graph_bfs_levels, GRAPH_BFS_ORACLE),
        (graph_connected_components, GRAPH_CC_ORACLE),
        (graph_pagerank, _pagerank_sql()),
        (emb_kmeans_assign, EMB_KMEANS_ORACLE),
        (emb_scalar_quantize, EMB_SQ_ORACLE),
        (p3_dedup_keep_first, P3_ORACLE),
        (p7_validity_null, P7_ORACLE),
        (r5_pivot, R5_PIVOT_ORACLE),
        (tpch_q10_returns, TPCH_Q10_ORACLE),
        (tpch_q13_custdist, TPCH_Q13_ORACLE),
        (tpch_q14, TPCH_Q14_ORACLE),
        (tpch_q15_top_supplier, TPCH_Q15_ORACLE),
        (tpch_q17_small_quantity, TPCH_Q17_ORACLE),
        (tpch_q19_disjunctive, TPCH_Q19_ORACLE),
        (tpch_q22_idle_customers, TPCH_Q22_ORACLE),
        (tpch_q3_top_orders, TPCH_Q3_ORACLE),
        (tpch_q4_shape, TPCH_Q4_ORACLE),
        (tpch_q5_nation_revenue, TPCH_Q5_ORACLE),
        (tpch_q6, TPCH_Q6_ORACLE),
        (tpch_q7_nation_volume, TPCH_Q7_ORACLE),
        (tpch_q8_market_share, TPCH_Q8_ORACLE),
        (tpch_q9_profit_shape, TPCH_Q9_ORACLE),
        (u1_union_by_name, U1_ORACLE),
        (u_set_ops, U_SET_OPS_ORACLE),
        (w5_resample_ffill, W5_ORACLE),
        (w6_interpolate, W6_ORACLE),
        (w8_ratchet_depth, W8_ORACLE),
        (w9_piecewise_offset, W9_ORACLE),
        (w_ranking, W_RANKING_ORACLE),
        (a_ks_test, A_KS_ORACLE),
        (ts_holt_linear, TS_HOLT_ORACLE),
        (curation_pack_sequences, CURATION_PACK_ORACLE),
        (a_mann_kendall, A_MANN_KENDALL_ORACLE),
        (text_kn5_perplexity, TEXT_KN5_PERPLEXITY_ORACLE),
        (text_bpe_merges, TEXT_BPE_MERGES_ORACLE),
        (ngram_jaccard_pairs, NGRAM_JACCARD_ORACLE),
        (f_higher_order, F_HOF_ORACLE),
        (f_bitwise_suite, F_BITWISE_ORACLE),
        (f_datetime_suite, F_DATETIME_ORACLE),
        (f_null_semantics, F_NULL_ORACLE),
        (a_winsorized_stats, A_WINSOR_ORACLE),
        (op_compaction_plan, OP_COMPACTION_PLAN_ORACLE),
        (text_bm25_topk, TEXT_BM25_ORACLE),
        (rag_rrf_fusion, RAG_RRF_ORACLE),
        (curation_mixture_temperature, CURATION_MIXTURE_ORACLE),
        (text_ngram_novelty, TEXT_NOVELTY_ORACLE),
        (graph_degree_assortativity, GRAPH_ASSORT_ORACLE),
        (a_hodges_lehmann, A_HODGES_LEHMANN_ORACLE),
        (graph_clustering_coeff, GRAPH_CLUSTERING_ORACLE),
        (w_seasonal_naive_error, W_SEASONAL_NAIVE_ORACLE),
        (text_bigram_entropy, TEXT_BIGRAM_ENTROPY_ORACLE),
        (mm_phash_pairs, _mm_phash_oracle_sql()),
        (emb_pca_project, _emb_pca_oracle_sql()),
        (w_rolling_skewkurt, W_SKEWKURT_ORACLE),
        (p_debounce_burst_keyed, P_DEBOUNCE_KEYED_ORACLE),
        (w_rolling_skewkurt_keyed, W_SKEWKURT_KEYED_ORACLE),
        (stream_debounce_admit, STREAM_DEBOUNCE_ORACLE),
        (dedup_minhash_lsh, _minhash_sql()),
        (mm_png_roundtrip, MM_PNG_ORACLE),
        (tpch_q12_latemode, TPCH_Q12_ORACLE),
        (tpch_q2_min_cost_supplier, TPCH_Q2_ORACLE),
        (tpch_q11_important_stock, TPCH_Q11_ORACLE),
        (tpch_q20_promotion_suppliers, TPCH_Q20_ORACLE),
        (tpch_q16_partsupp, TPCH_Q16_PS_ORACLE),
        (w2_centered_median, W2_ORACLE),
        (w3_count_window_median, W3_ORACLE),
        (w4_trailing_mean_minp, W4_ORACLE),
        (w7_ts_delta, W7_ORACLE),
        (w10_first_after, W10_ORACLE),
        (j3_outer_align, J3_ORACLE),
        (j6_dim_attach, J6_ORACLE),
        (j4_asof_forward, J4_FWD_ORACLE),
        (a4_distinct_counts, A4_ORACLE),
        (a9_head_mean, A9_ORACLE),
        (j1_calibration_fallback, J1_ORACLE),
        (r1_melt, R1_ORACLE),
        (p5_regex_projection, P5_ORACLE),
        (stream_dedup_counts, STREAM_DEDUP_ORACLE),
        (stream_session_agg, STREAM_SESSION_ORACLE),
        (dedup_exact_docs, DEDUP_EXACT_ORACLE),
        (dedup_simhash, SIMHASH_ORACLE),
        (dedup_simhash_banded, SIMHASH_BANDED_ORACLE),
        (text_winnow_fingerprints, WINNOW_ORACLE),
        (text_stats, TEXT_STATS_ORACLE),
        (text_lang_id, _langid_sql()),
        (text_pii_redact, PII_ORACLE),
        (text_split_assign, SPLIT_ORACLE),
        (text_token_topk, TOKEN_TOPK_ORACLE),
        (text_repetition, TEXT_REPETITION_ORACLE),
        (text_bigram_pmi, TEXT_PMI_ORACLE),
        (curation_stratified_sample, CURATION_SAMPLE_ORACLE),
        (curation_quality_filter, CURATION_QUALITY_ORACLE),
        (curation_source_budget, CURATION_BUDGET_ORACLE),
        (curation_weighted_sample, CURATION_WSAMPLE_ORACLE),
        (mm_image_meta, MM_META_ORACLE),
        (mm_image_stats, MM_STATS_ORACLE),
        (ts_dominant_period, _ts_dominant_sql()),
        (ts_periodogram_int, _periodogram_sql()),
        (rag_hybrid_minmax, RAG_HYBRID_ORACLE),
        (stream_geofence_admit, _stream_geofence_oracle_sql()),
        (a_gini, A_GINI_ORACLE),
        (dedup_spans, DEDUP_SPANS_ORACLE),
        (a8_sliding_window, SLIDING_ORACLE),
        (emb_label_centroids, EMB_CENTROIDS_ORACLE),
        (emb_label_inertia, EMB_INERTIA_ORACLE),
        (text_hash_features, TEXT_HASH_FEATURES_ORACLE),
        (text_lm_familiarity, TEXT_LM_FAMILIARITY_ORACLE),
        (dedup_url_canonical, DEDUP_URL_ORACLE),
        (curation_domain_mix, CURATION_DOMAIN_MIX_ORACLE),
        (ann_bruteforce_topk, ANN_BRUTE_ORACLE),
        (mm_frame_sample, MM_FRAMES_ORACLE),
        (mm_audio_stats, MM_AUDIO_ORACLE),
        (stream_fleet_hourly, STREAM_FLEET_ORACLE),
        (op_upsert_snapshot, OP_UPSERT_ORACLE),
        (op_scd2_intervals, SCD2_ORACLE),
        (j_temporal_scd2, J_TEMPORAL_SCD2_ORACLE),
        (j_skew_salted, J_SKEW_ORACLE),
        (a_sessionize, SESSION_ORACLE),
        (ann_ivf_topk, ANN_IVF_ORACLE),
        (curation_semantic_decontaminate, CURATION_SEMDECON_ORACLE),
        (text_cdc_chunks, TEXT_CDC_ORACLE),
        (a_linreg_trend, LINREG_ORACLE),
        (a_quantiles, QUANTILES_ORACLE),
        (a_cohort_retention, A_COHORT_ORACLE),
        (a_corr_regr, A_CORR_ORACLE),
        (a_funnel, A_FUNNEL_ORACLE),
        (a_time_weighted_avg, A_TWA_ORACLE),
        (a_histogram, A_HISTOGRAM_ORACLE),
        (a_concurrency, A_CONCURRENCY_ORACLE),
        (a_transition_matrix, A_TRANSITION_ORACLE),
        (a_mad_outliers, A_MAD_ORACLE),
        (a_basket_lift, A_BASKET_ORACLE),
        (a_chi_square, A_CHI2_ORACLE),
        (a_histogram_equidepth, A_EQUIDEPTH_ORACLE),
        (a_attribution_credit, A_ATTRIBUTION_ORACLE),
        (a_rfm_segments, A_RFM_ORACLE),
        (text_rake_keywords, _rake_sql()),
        (w_first_last, W_FIRST_LAST_ORACLE),
        (w_rolling_corr, W_ROLLING_CORR_ORACLE),
        (w_step_detect, W_STEP_ORACLE),
        (p_debounce_burst, P_DEBOUNCE_ORACLE),
        (dq_referential_audit, DQ_REF_ORACLE),
        (dq_null_profile, DQ_NULL_ORACLE),
        (f_json_parse, F_JSON_ORACLE),
        (f_map_suite, F_MAP_ORACLE),
        (f_url_suite, F_URL_ORACLE),
        (agg_cube, CUBE_ORACLE),
        (agg_grouping_sets, GROUPING_SETS_ORACLE),
        (tpch_q16_supplier_count, TPCH_Q16_ORACLE),
        (tpch_q21_shape, TPCH_Q21_ORACLE),
        (a_rfm_segments_banded, A_RFM_BANDED_ORACLE),
        (stream_attribution_credit, A_ATTRIBUTION_ORACLE),
        (rag_mmr_rerank, _mmr_sql()),
        (rag_prf_expand, RAG_PRF_ORACLE),
        (rag_late_interaction, RAG_LATE_ORACLE),
        (ml_target_encode_loo, ML_TARGET_LOO_ORACLE),
        (ml_target_encode_prefix, ML_TARGET_PREFIX_ORACLE),
        (stream_target_encode, ML_TARGET_PREFIX_ORACLE),
        (dq_table_digest, DQ_DIGEST_ORACLE),
        (ts_cusum_alerts, TS_CUSUM_ORACLE),
        (a_hll_deterministic, A_HLL_DETERMINISTIC_ORACLE),
        (a_countmin_freq, A_COUNTMIN_ORACLE),
        (a_heavy_hitters_mg, HEAVY_HITTERS_ORACLE),
        (rag_chunk_topk, _rag_chunk_sql()),
        (op_incremental_rollup, OP_ROLLUP_ORACLE),
        (ts_ewma, TS_EWMA_ORACLE),
        (layout_zorder_stats, _zorder_oracle()),
        (a_bitmap_distinct, A_BITMAP_ORACLE),
        (curation_shuffle_shard, CURATION_SHUFFLE_ORACLE),
        (r4_transpose, R4_ORACLE),
        (curation_keep_best_in_cluster, _keep_best_sql()),
        (j_interval_overlap, J_INTERVAL_ORACLE),
        (f_collections, COLLECTIONS_ORACLE),
        (j_bloom_semi, J_BLOOM_SEMI_ORACLE),
        (dq_benford, DQ_BENFORD_ORACLE),
        (a_theil_sen, A_THEIL_SEN_ORACLE),
        (stream_holt_linear, TS_HOLT_ORACLE),
        (text_kn_perplexity, TEXT_KN_PERPLEXITY_ORACLE),
        (curation_ccnet_buckets, CURATION_CCNET_ORACLE),
        (w_bollinger_bands, W_BOLLINGER_ORACLE),
        (a_autocorr, A_AUTOCORR_ORACLE),
        (layout_file_stats, _layout_file_stats_oracle()),
        (w_rolling_slope, W_ROLLING_SLOPE_ORACLE),
        (op_cdc_merge, OP_CDC_MERGE_ORACLE),
        (dq_rule_violations, _dq_rules_oracle()),
        (a_weighted_median, A_WEIGHTED_MEDIAN_ORACLE),
        (op_snapshot_diff, OP_SNAPSHOT_DIFF_ORACLE),
        (curation_epoch_upsample, CURATION_EPOCH_ORACLE),
        (a_seasonality_strength, A_SEASONALITY_ORACLE),
        (w_ohlc, W_OHLC_ORACLE),
        (w_drawdown, W_DRAWDOWN_ORACLE),
        (a_entropy_transitions, A_ENTROPY_TRANS_ORACLE),
        (a_mann_whitney, A_MANN_WHITNEY_ORACLE),
        (a_runs_test, A_RUNS_ORACLE),
        (a_kmv_distinct, A_KMV_ORACLE),
        (dq_schema_drift, DQ_SCHEMA_DRIFT_ORACLE),
        (w_kalman_1d, W_KALMAN_ORACLE),
        (ts_sax_symbols, TS_SAX_ORACLE),
        (w_ewma_irregular, W_EWMA_IRR_ORACLE),
        (graph_jaccard_similarity, GRAPH_JACCARD_ORACLE),
        (dedup_chain_spans, DEDUP_CHAIN_SPANS_ORACLE),
        (dedup_verbatim_spans, DEDUP_VERBATIM_ORACLE),
        (dedup_strip_verbatim, DEDUP_STRIP_VERBATIM_ORACLE),
        (dedup_setsim_join, DEDUP_SETSIM_ORACLE),
        (dedup_containment, DEDUP_CONTAINMENT_ORACLE),
        (text_bpe_tokenize, TEXT_BPE_TOKENIZE_ORACLE),
        (text_bpe_tokenize_trie, TEXT_BPE_TOKENIZE_ORACLE),
        (a_bottomk_quantiles, A_BOTTOMK_QUANTILES_ORACLE),
        (a_bloom_membership, A_BLOOM_MEMBERSHIP_ORACLE),
        (tpch_q1, TPCH_Q1_ORACLE),
        (tpch_q18_large_orders, TPCH_Q18_ORACLE),
        (flagship_events_hourly, FLAGSHIP_ORACLE),
        (ann_block_topk, ANN_BLOCK_ORACLE),
        (ann_matryoshka_topk, ANN_MATRYOSHKA_ORACLE),
        (emb_gram_matrix, EMB_GRAM_ORACLE),
        (curation_pipeline, CURATION_PIPELINE_ORACLE),
        (curation_quality_logreg, CURATION_QUALITY_LOGREG_ORACLE),
        (text_tfidf, TEXT_TFIDF_ORACLE),
        (text_zipf_fit, TEXT_ZIPF_ORACLE),
        (mm_jpeg_roundtrip, MM_JPEG_ORACLE),
        (stream_cusum_alerts, TS_CUSUM_ORACLE),
        (stream_hourly_agg, STREAM_A8_ORACLE),
        (graph_triangle_count, GRAPH_TRIANGLE_ORACLE),
        (w1_rolling_median_2d, W1_ORACLE),
        (w_hampel_outliers, W_HAMPEL_ORACLE),
        (j4_asof_backward, J4_ORACLE),
        (j_asof_nearest, J_ASOF_NEAREST_ORACLE),
        (text_kn3_perplexity, TEXT_KN3_PERPLEXITY_ORACLE),
        (curation_ccnet_buckets_banded, CURATION_CCNET_BANDED_ORACLE),
        (a1_median_slice, A1_ORACLE),
        (a3_mode_interval, A3_ORACLE),
        (a3_per_key_freq, A3_PER_KEY_ORACLE),
        (a5_positive_sum_slice, A5_ORACLE),
        (a6_monthly_rollup, A6_ORACLE),
        (a7_daily_profile, A7_ORACLE),
        (a8_resample_hourly, A8_ORACLE),
        (agg_rollup, ROLLUP_ORACLE),
        (f_scalar_suite, F_SCALAR_ORACLE),
        (f_string_suite, F_STRING_ORACLE),
        (j_anti_users, J_ANTI_ORACLE),
        (j_range_interval, J_RANGE_ORACLE),
        (j_semi_users, J_SEMI_ORACLE),
        (p10_time_slice, P10_ORACLE),
        (p1_prune_all_null, P1_ORACLE),
        (p2_dedup_rows, P2_ORACLE),
        # Approximate sketches: rows-only (no exact oracle), so they stay
        # last, out of the window.
        (a_approx_distinct, None),
        (a_hll_mergeable, None),
        (a_approx_quantiles, None),
    ]


def _index(
    rows: list[tuple[QueryFn, str | None]],
) -> tuple[dict[str, QueryFn], dict[str, str]]:
    """Registry rows -> (name -> query fn, name -> oracle SQL), in row
    order.  A name listed twice raises ``ValueError``."""
    fns: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}
    for fn, oracle in rows:
        name = fn.__name__
        if name in fns:
            raise ValueError(f"duplicate registry query: {name}")
        fns[name] = fn
        if oracle is not None:
            oracles[name] = oracle
    return fns, oracles


def queries() -> dict[str, QueryFn]:
    return _index(_registry())[0]


def oracle_sql() -> dict[str, str]:
    return _index(_registry())[1]
