"""Structured Streaming skin: availableNow batch-parity, cross-batch
watermark dedup, and the stateful operators vs their batch forms."""

from __future__ import annotations

import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cassandra_fs_pp_spark.streaming import (
    debounce_admit_stateful,
    hourly_agg_stream,
    run_available_now,
    stream_table,
    watermark_dedup,
)

SF = "/root/testdata/sf0.001"


def _write_stream_files(spark, tmp_path, frames):
    """Write each pandas frame as one parquet file with increasing mtime so
    the file source picks them up in order."""
    d = str(tmp_path / "in")
    os.makedirs(d, exist_ok=True)
    for i, pdf in enumerate(frames):
        f = os.path.join(d, f"part-{i:03d}.parquet")
        ts_cols = pdf.select_dtypes("datetime").columns
        pdf = pdf.assign(**{c: pdf[c].astype("datetime64[us]") for c in ts_cols})
        pdf.to_parquet(f, index=False)
        os.utime(f, (time.time() + i, time.time() + i))
    return d


def test_stream_hourly_agg_matches_batch(spark):
    """availableNow drain of the windowed agg == the batch groupBy."""
    stream = stream_table(spark, SF, "events")
    got = run_available_now(
        hourly_agg_stream(stream), output_mode="complete"
    ).orderBy("hour_ts")

    from cassandra_fs_pp_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events")
    want = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 3).alias("sum_value"),
        )
        .select(F.col("w.start").alias("hour_ts"), "n", "sum_value")
        .orderBy("hour_ts")
    )
    assert [r.asDict() for r in got.collect()] == [
        r.asDict() for r in want.collect()
    ]


def test_watermark_dedup_across_microbatches(spark, tmp_path):
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    mk = lambda ids: pd.DataFrame(  # noqa: E731
        {
            "ts": [t0 + pd.Timedelta(minutes=i) for i in ids],
            "k": [i % 7 for i in ids],
            "v": [float(i) for i in ids],
        }
    )
    # batch 2 re-sends rows 5..9 (exact key dups within watermark) + 10..14
    d = _write_stream_files(spark, tmp_path, [mk(range(0, 10)), mk(range(5, 15))])

    schema = "ts timestamp, k long, v double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    dd = watermark_dedup(stream, ["k", "ts"], ts_col="ts", delay="2 hours")
    out = run_available_now(dd.select("ts", "k", "v"))
    assert out.count() == 15
    assert out.select("ts", "k").distinct().count() == 15


def test_stream_dedup_agg_pipeline(spark):
    """Dedup -> agg chained in one streaming query over the test table."""
    stream = stream_table(spark, SF, "events")
    dd = watermark_dedup(stream, ["user_id", "event_type", "ts"], delay="1 hour")
    counts = dd.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    got = run_available_now(counts, output_mode="complete")

    from cassandra_fs_pp_spark.sources.tables import load_table

    want = (
        load_table(spark, SF, "events")
        .dropDuplicates(["user_id", "event_type", "ts"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert {(r["event_type"], r["n"]) for r in got.collect()} == {
        (r["event_type"], r["n"]) for r in want.collect()
    }


def test_file_sink_exactly_once_resume(spark, tmp_path):
    """Parquet sink + checkpoint: draining twice over a growing input dir
    never duplicates rows (file-source offsets + sink transaction log)."""
    import glob

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    mk = lambda lo, hi: pd.DataFrame(  # noqa: E731
        {
            "ts": [t0 + pd.Timedelta(minutes=i) for i in range(lo, hi)],
            "v": [float(i) for i in range(lo, hi)],
        }
    )
    src = _write_stream_files(spark, tmp_path, [mk(0, 50)])
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.schema("ts timestamp, v double")
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()

    drain()
    assert spark.read.parquet(out).count() == 50

    # second batch lands; re-drain with the SAME checkpoint
    f = str(tmp_path / "in" / "part-001.parquet")
    mk(50, 80).assign(ts=lambda d: d["ts"].astype("datetime64[us]")).to_parquet(
        f, index=False
    )
    drain()
    got = spark.read.parquet(out)
    assert got.count() == 80
    assert got.select("ts").distinct().count() == 80

    # a third drain with nothing new writes nothing
    n_files = len(glob.glob(out + "/*.parquet"))
    drain()
    assert spark.read.parquet(out).count() == 80
    assert len(glob.glob(out + "/*.parquet")) == n_files


def test_stream_session_window_matches_batch(spark):
    """availableNow drain of the session window == batch session_window."""
    from cassandra_fs_pp_spark.streaming.filestream import session_window_stream

    stream = stream_table(spark, SF, "events")
    got = run_available_now(
        session_window_stream(stream), output_mode="complete"
    ).orderBy("user_id", "session_start")

    from cassandra_fs_pp_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events")
    want = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 3).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )
    assert [r.asDict() for r in got.collect()] == [
        r.asDict() for r in want.collect()
    ]


def test_foreach_batch_upsert_incremental(spark, tmp_path):
    """foreachBatch CDC loop: two incremental drains over one checkpoint
    must equal folding upsert_snapshot over the change batches, with
    latest-wins inside a batch and exactly-once across restarts."""
    from cassandra_fs_pp_spark.operators.joins import upsert_snapshot
    from cassandra_fs_pp_spark.streaming.filestream import foreach_batch_upsert

    schema = "k long, v string, ver long"
    b1 = [(1, "a1", 1), (2, "b1", 1), (3, "c1", 1)]
    # batch 2: update k=2 twice (ver 2 then 3 -> ver 3 wins), add k=4
    b2 = [(2, "b2", 2), (2, "b3", 3), (4, "d1", 2)]

    indir = str(tmp_path / "in")
    os.makedirs(indir)
    snap = str(tmp_path / "snapshot")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = spark.readStream.schema(schema).parquet(indir)
        q = foreach_batch_upsert(
            stream, snap, key="k", order_by=["ver"], checkpoint_dir=ckpt
        )
        q.awaitTermination()

    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(indir)
    drain()
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(indir)
    drain()

    got = {r.k: (r.v, r.ver) for r in spark.read.parquet(snap).collect()}

    base = spark.createDataFrame(b1, schema)
    latest2 = spark.createDataFrame([(2, "b3", 3), (4, "d1", 2)], schema)
    want = {r.k: (r.v, r.ver) for r in upsert_snapshot(base, latest2, "k").collect()}
    assert got == want
    assert got[2] == ("b3", 3) and 4 in got and got[1] == ("a1", 1)


def test_foreach_batch_upsert_crash_and_replay(spark, tmp_path):
    """Exactly-once under restart, exercised at its two crash points.

    (a) crash BETWEEN the two renames of the snapshot swap: the current
    snapshot is gone and only ``.old`` exists — the next drain must
    recover the merge base from ``.old`` (``_resolve_base_dir``) instead
    of restarting the fold from empty.  (b) a REPLAYED micro-batch:
    foreachBatch is at-least-once, so deleting the newest checkpoint
    commit marker makes the restarted stream re-run the last batch — the
    latest-wins merge must be idempotent and leave the snapshot
    byte-identical.  Together these are the restart story the docstring
    claims; the happy-path incremental test above never kills anything."""
    from cassandra_fs_pp_spark.operators.joins import upsert_snapshot
    from cassandra_fs_pp_spark.streaming.filestream import foreach_batch_upsert

    schema = "k long, v string, ver long"
    b1 = [(1, "a1", 1), (2, "b1", 1), (3, "c1", 1)]
    b2 = [(2, "b2", 2), (4, "d1", 2)]

    indir = str(tmp_path / "in")
    os.makedirs(indir)
    snap = str(tmp_path / "snapshot")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = spark.readStream.schema(schema).parquet(indir)
        q = foreach_batch_upsert(
            stream, snap, key="k", order_by=["ver"], checkpoint_dir=ckpt
        )
        q.awaitTermination()

    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(indir)
    drain()

    # (a) simulate dying between rename 1 (current -> .old) and rename 2
    # (tmp -> current): only the .old snapshot exists at restart
    os.rename(snap, snap + ".old")
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(indir)
    drain()
    assert not os.path.isdir(snap + ".old")  # recovery cleaned up

    base = spark.createDataFrame(b1, schema)
    want = {
        r.k: (r.v, r.ver)
        for r in upsert_snapshot(
            base, spark.createDataFrame(b2, schema), "k"
        ).collect()
    }
    got = {r.k: (r.v, r.ver) for r in spark.read.parquet(snap).collect()}
    assert got == want

    # (b) force an at-least-once REPLAY of the newest batch: drop its
    # commit marker so the restarted query re-runs it from the offset log
    commits_dir = os.path.join(ckpt, "commits")
    newest = max(
        (f for f in os.listdir(commits_dir) if f.isdigit()), key=int
    )
    os.remove(os.path.join(commits_dir, newest))
    crc = os.path.join(commits_dir, f".{newest}.crc")
    if os.path.exists(crc):  # orphaned sidecar trips the concurrent-query check
        os.remove(crc)
    drain()
    got_replayed = {
        r.k: (r.v, r.ver) for r in spark.read.parquet(snap).collect()
    }
    assert got_replayed == want  # idempotent re-merge, no dup/loss


def test_stream_table_ns_long_layout(spark, tmp_path):
    """The driver's testdata has shipped events.ts as BOTH timestamp[us]
    and TIMESTAMP(NANOS); under ``nanosAsLong`` the latter arrives as a
    raw ns bigint. The current testdata is µs, so this pins the ns->µs
    floor branch of stream_table/load_table with a hand-built ns fixture
    (it would otherwise be silently untested until the driver flips
    layouts back)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "nsdata")
    os.makedirs(d)
    ns_vals = [
        pd.Timestamp("2024-01-01 00:00:00.000000123").value,
        pd.Timestamp("2024-01-01 00:00:01.999999999").value,
    ]
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ns_vals, pa.timestamp("ns")),
            "value": pa.array([1.5, 2.5], pa.float64()),
        }
    )
    pq.write_table(table, os.path.join(d, "events.parquet"))

    expect = [
        pd.Timestamp("2024-01-01 00:00:00").to_pydatetime(),
        pd.Timestamp("2024-01-01 00:00:01.999999").to_pydatetime(),
    ]

    stream = stream_table(spark, d, "events")
    assert dict(stream.dtypes)["ts"] == "timestamp"
    got = run_available_now(stream.select("event_id", "ts")).orderBy("event_id")
    assert [r["ts"] for r in got.collect()] == expect

    from cassandra_fs_pp_spark.sources.tables import load_table

    batch = load_table(spark, d, "events")
    assert dict(batch.dtypes)["ts"] == "timestamp_ntz"
    assert [
        r["ts"] for r in batch.orderBy("event_id").select("ts").collect()
    ] == expect


def test_stream_fleet_hourly_matches_batch(spark):
    """Keyed (per-site) windowed agg: streaming state partitions by
    (site, window); availableNow drain == batch groupBy per site."""
    from cassandra_fs_pp_spark.sources.tables import load_table
    from cassandra_fs_pp_spark.streaming import hourly_agg_stream

    stream = stream_table(spark, SF, "events").withColumn(
        "site", F.concat(F.lit("S"), F.col("user_id") % 3)
    )
    got = run_available_now(
        hourly_agg_stream(stream, keys=["site"]), output_mode="complete"
    ).orderBy("site", "hour_ts")

    ev = load_table(spark, SF, "events").withColumn(
        "site", F.concat(F.lit("S"), F.col("user_id") % 3)
    )
    want = (
        ev.groupBy("site", F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 3).alias("sum_value"),
        )
        .select("site", F.col("w.start").alias("hour_ts"), "n", "sum_value")
        .orderBy("site", "hour_ts")
    )
    assert [r.asDict() for r in got.collect()] == [
        r.asDict() for r in want.collect()
    ]


def test_stream_holt_matches_batch(spark):
    """Stateful streaming Holt == batch struct-state fold, bit-for-bit
    (same add/halve op order)."""
    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    batch = {
        r["user_id"]: (r["n_events"], r["holt_level"], r["holt_trend"])
        for r in m.ts_holt_linear(spark, sf).collect()
    }
    stream = {
        r["user_id"]: (r["n_events"], r["holt_level"], r["holt_trend"])
        for r in m.stream_holt_linear(spark, sf).collect()
    }
    assert batch == stream


def test_debounce_admit_stateful_state_across_microbatches(spark, tmp_path):
    """Admit-first-of-burst: the last-seen timestamp carries across
    micro-batches, so a burst STRADDLING a file boundary admits exactly
    one event; drain == the batch gaps-and-islands first rows."""
    import datetime as dt

    base = dt.datetime(2024, 6, 1)
    rows = []
    eid = 0
    for user in (1, 2):
        t = base
        for burst in range(6):
            # burst of 5 events 5 min apart, then a 2 h gap
            for i in range(5):
                rows.append((eid, user, "click", t))
                eid += 1
                t += dt.timedelta(minutes=5)
            t += dt.timedelta(hours=2)
    df = pd.DataFrame(rows, columns=["event_id", "user_id", "event_type", "ts"])
    # split INSIDE bursts: first file ends mid-burst for both users
    frames = [df.iloc[: len(df) // 2 - 2], df.iloc[len(df) // 2 - 2 :]]
    d = _write_stream_files(spark, tmp_path, frames)

    schema = "event_id long, user_id long, event_type string, ts timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    got = {
        (r["user_id"], r["event_type"], r["admitted_event_id"])
        for r in run_available_now(
            debounce_admit_stateful(
                stream, keys=["user_id", "event_type"], gap_s=1800
            )
        ).collect()
    }
    # batch truth: first event of each burst
    want = set()
    full = pd.concat(frames).sort_values(["user_id", "event_type", "ts", "event_id"])
    for (u, et), g in full.groupby(["user_id", "event_type"]):
        prev = None
        for _, r in g.iterrows():
            if prev is None or (r["ts"] - prev).total_seconds() > 1800:
                want.add((u, et, r["event_id"]))
            prev = r["ts"]
    assert got == want
    assert len(got) == 12  # 6 bursts x 2 users, exactly one admit each


def test_geofence_tag_projection_matches_join(spark):
    """point_in_polygon_tag (stateless literal-edge projection) ==
    point_in_polygon_join (broadcast cell-coverage join) on the same
    hashed point cloud — the two geofence forms agree exactly."""
    import __spark_entry__ as m
    from pyspark.sql import functions as F
    from cassandra_fs_pp_spark.operators.geo import (
        point_in_polygon_join,
        point_in_polygon_tag,
    )

    sf = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf}/events.parquet")
    md5 = F.md5(F.concat(F.lit("g"), F.col("event_id").cast("string")))
    pts = ev.select(
        F.col("event_id").alias("id"),
        (F.conv(F.substring(md5, 1, 15), 16, 10).cast("long") % 100000)
        .alias("x"),
        (F.conv(F.substring(md5, 16, 15), 16, 10).cast("long") % 100000)
        .alias("y"),
    )
    via_join = {
        (r["id"], r["region_id"])
        for r in point_in_polygon_join(pts, m.GEO_REGIONS).collect()
    }
    via_tag = {
        (r["id"], r["region_id"])
        for r in point_in_polygon_tag(pts, m.GEO_REGIONS)
        .select("id", "region_id")
        .collect()
    }
    assert via_tag == via_join
    assert via_tag  # nonempty at sf0.001


def test_stream_geofence_drain_matches_batch(spark):
    """stream_geofence_admit's availableNow drain == the batch
    geo_point_in_polygon hit set (stateless projection: exact parity by
    construction, including multi-file input)."""
    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    batch = {
        (r["id"], r["region_id"])
        for r in m.geo_point_in_polygon(spark, sf).collect()
    }
    drained = {
        (r["admitted_event_id"], r["region_id"])
        for r in m.stream_geofence_admit(spark, sf).collect()
    }
    assert drained == batch


def test_stream_attribution_drain_matches_batch(spark):
    """stream_attribution_credit (watermarked stream-stream interval
    join -> idempotent (conv_id, touch_id) ledger upsert -> shared
    rollup) drains availableNow to EXACTLY the batch twin's channel
    credit table."""
    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    key = lambda r: r["channel"]  # noqa: E731
    got = sorted(
        (
            (
                r["channel"],
                r["first_touch"],
                r["last_touch"],
                r["linear_microcredit"],
                r["touchpoints"],
            )
            for r in m.queries()["stream_attribution_credit"](spark, sf).collect()
        ),
    )
    want = sorted(
        (
            (
                r["channel"],
                r["first_touch"],
                r["last_touch"],
                r["linear_microcredit"],
                r["touchpoints"],
            )
            for r in m.queries()["a_attribution_credit"](spark, sf).collect()
        ),
    )
    assert got == want and len(got) >= 1


def test_stream_table_directory_layout(spark, tmp_path):
    """An engine-written table is a DIRECTORY of part files (the layout
    a real deployment always has). stream_table must stream those part
    files — the single-file glob branch would match zero files and
    silently drain an empty stream (the r10 probe bug)."""
    from cassandra_fs_pp_spark.streaming.filestream import (
        run_available_now,
        stream_table,
    )

    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out_dir = str(tmp_path)
    src.limit(500).repartition(4).write.parquet(f"{out_dir}/events.parquet")
    batch_n = spark.read.parquet(f"{out_dir}/events.parquet").count()
    assert batch_n == 500
    drained = run_available_now(stream_table(spark, out_dir, "events"))
    assert drained.count() == batch_n


def test_stream_target_encode_drain_matches_batch(spark):
    """stream_target_encode ((sum, n) state per key, encode-before-
    fold) drains availableNow to EXACTLY the batch prefix-window form,
    including null first-of-group rows."""
    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    cols = (
        "event_id",
        "user_id",
        "event_type",
        "cents",
        "prefix_cents_mean",
    )
    got = sorted(
        tuple(r[c] for c in cols)
        for r in m.queries()["stream_target_encode"](spark, sf).collect()
    )
    want = sorted(
        tuple(r[c] for c in cols)
        for r in m.queries()["ml_target_encode_prefix"](spark, sf).collect()
    )
    assert got == want and len(got) > 100
    assert any(r[4] is None for r in got)  # first-of-group nulls exist


def test_target_encode_state_across_microbatches(spark, tmp_path):
    """r11: the (sum, n) target-encode state must CARRY across
    micro-batches — files split INSIDE every key group, so each group's
    later rows are encoded by mass accumulated in an earlier batch.
    Expected values computed by a direct pandas prefix fold."""
    import datetime as dt

    from cassandra_fs_pp_spark.streaming.filestream import (
        run_available_now,
        target_encode_prefix_stateful,
    )

    base = dt.datetime(2024, 6, 1)
    rows = []
    eid = 0
    for user in (1, 2, 3):
        for i in range(8):
            rows.append(
                (eid, user, "buy", base + dt.timedelta(minutes=10 * i),
                 (eid * 37) % 100)
            )
            eid += 1
    df = pd.DataFrame(
        rows, columns=["event_id", "user_id", "event_type", "ts", "cents"]
    )
    # interleave so EVERY (user) group straddles the file boundary
    frames = [
        df[df["event_id"] % 8 < 4].sort_values("event_id"),
        df[df["event_id"] % 8 >= 4].sort_values("event_id"),
    ]
    # file order must respect per-key ts order (the operator contract):
    # user u's rows 0..3 (file 0) precede 4..7 (file 1) in ts -> holds,
    # since event_id order == ts order within a user
    d = _write_stream_files(spark, tmp_path, frames)
    schema = (
        "event_id long, user_id long, event_type string, "
        "ts timestamp, cents long"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    got = {
        r["event_id"]: r["prefix_cents_mean"]
        for r in run_available_now(
            target_encode_prefix_stateful(
                stream, key_cols=["user_id", "event_type"]
            )
        ).collect()
    }
    # pandas reference: strictly-earlier mean per (user, event_type)
    want = {}
    for _, g in df.groupby(["user_id", "event_type"]):
        g = g.sort_values(["ts", "event_id"])
        s = n = 0
        for _, r in g.iterrows():
            want[r["event_id"]] = (s / n) if n else None
            s += int(r["cents"])
            n += 1
    assert len(got) == len(df)
    for eid, exp in want.items():
        if exp is None:
            assert got[eid] is None, eid
        else:
            assert got[eid] == exp, (eid, got[eid], exp)
    # the cross-batch property actually bit: every group's batch-2 rows
    # (event_id % 8 >= 4) have non-null encodings fed by batch-1 state
    assert all(
        got[eid] is not None for eid in df[df["event_id"] % 8 >= 4]["event_id"]
    )


def test_cusum_and_holt_microbatch_boundaries_invisible(spark, tmp_path):
    """r11: micro-batch boundaries must be invisible to the stateful
    detectors — a maxFilesPerTrigger=1 drain over files split INSIDE
    every key's series equals the same input drained in one batch,
    bit-for-bit (cusum's integer s; holt's (n, level, trend) doubles)."""
    import datetime as dt

    from cassandra_fs_pp_spark.streaming.filestream import (
        cusum_stateful,
        holt_stateful,
        run_available_now,
    )

    base = dt.datetime(2024, 6, 1)
    rows = []
    for user in (1, 2):
        for i in range(12):
            # a step change mid-series keeps the CUSUM state non-trivial
            v = 10 + (50 if i >= 6 else 0) + ((user * 7 + i * 13) % 9)
            rows.append((user, base + dt.timedelta(minutes=5 * i), v))
    df = pd.DataFrame(rows, columns=["user_id", "ts", "cents"])
    # three files, each ending mid-series for both users
    order = df.sort_values(["user_id", "ts"]).reset_index(drop=True)
    mask = order.groupby("user_id").cumcount()
    frames = [order[mask < 4], order[(mask >= 4) & (mask < 8)], order[mask >= 8]]
    d = _write_stream_files(spark, tmp_path, frames)
    schema = "user_id long, ts timestamp, cents long"

    def drain(op, chunked):
        rd = spark.readStream.schema(schema)
        if chunked:
            rd = rd.option("maxFilesPerTrigger", 1)
        return run_available_now(op(rd.parquet(d)))

    cus = lambda s: cusum_stateful(  # noqa: E731
        s, key_col="user_id", ts_col="ts", x_col="cents", drift=12
    )
    holt = lambda s: holt_stateful(  # noqa: E731
        s, key_col="user_id", ts_col="ts", x_col="cents"
    )
    for op, cols in (
        (cus, ("user_id", "ts", "cusum")),
        (holt, ("user_id", "ts", "level", "trend", "n_seen")),
    ):
        one = sorted(
            tuple(r[c] for c in cols) for r in drain(op, False).collect()
        )
        many = sorted(
            tuple(r[c] for c in cols) for r in drain(op, True).collect()
        )
        assert one == many and len(one) == len(df)
    # the step change actually fired the detector
    assert any(
        r["cusum"] > 0 for r in drain(cus, True).collect()
    )
