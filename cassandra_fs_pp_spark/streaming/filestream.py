"""Structured Streaming skin — incremental replay of the batch semantics.

The reference is strictly batch: "new data" = new files + full recompute
(``README.md:55-68``; SURVEY §2.10). This module is the incremental
equivalent the reference lacks: a file-source stream whose operators match
the batch L0->L1 semantics —

* :func:`stream_table` — file-source ``readStream`` over the same parquet
  tables the batch scans use (schema pinned from a batch read; the
  TIMESTAMP(NANOS) ``events.ts`` gets the same ns->us normalization as
  ``sources.tables.load_table``).
* :func:`watermark_dedup` — the streaming face of P3 keyed dedup:
  ``withWatermark + dropDuplicatesWithinWatermark`` keeps the FIRST arrival
  of each key (arrival order = file order = the batch concat order), with
  state bounded by the watermark delay instead of growing forever.
* :func:`hourly_agg_stream` — A8's tumbling-window aggregation with a
  watermark for late data.

Scale stance: file-source streams list+checkpoint incrementally (no
re-scan); dedup/agg state is keyed and watermark-bounded so a 1000-executor
cluster holds O(keys in watermark window) state, not O(history). Use
``maxFilesPerTrigger`` to bound micro-batch size on backfills.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from collections.abc import Iterable, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import DoubleType, StructField, StructType

from cassandra_fs_pp_spark.sources.tables import NANOS_TS_COLUMNS, TABLES


def stream_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a test table directory (schema pinned from a
    one-off batch read — streaming sources require explicit schemas)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    if os.path.isdir(path):
        # engine-written table = a DIRECTORY of part files (the layout a
        # real deployment always has) -> stream it directly
        df = reader.parquet(path)
    else:
        # driver testdata = one bare file per table; the file source
        # needs a directory -> stream the parent with a glob filter for
        # this table only.  A directory-shaped table must NOT take this
        # branch: pathGlobFilter matches FILE names, so it would match
        # zero part files and drain an empty stream silently.
        df = reader.option("pathGlobFilter", f"{name}.parquet").parquet(sf_dir)
    dtypes = dict(df.dtypes)
    for col in NANOS_TS_COLUMNS.get(name, ()):
        # plain TIMESTAMP (not NTZ): watermarks require it, and with the
        # session pinned to UTC the wall-clock values agree with batch NTZ.
        # The bigint guard matches sources.tables.load_table (only the
        # TIMESTAMP(NANOS) layout arrives as a raw ns long); the
        # NTZ->timestamp cast below is stream-specific — load_table keeps
        # NTZ, but watermarks require TimestampType.
        if dtypes.get(col) == "bigint":
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"`{col}` div 1000"))
            )
        elif dtypes.get(col) == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def watermark_dedup(
    df: DataFrame,
    keys: Sequence[str],
    *,
    ts_col: str = "ts",
    delay: str = "1 hour",
) -> DataFrame:
    """P3 streaming twin: keep the first arrival per key, state bounded by
    the watermark (``dropDuplicatesWithinWatermark`` — duplicates arriving
    within ``delay`` of each other are guaranteed dropped)."""
    return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(list(keys))


def hourly_agg_stream(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    value_col: str = "value",
    delay: str = "1 hour",
    keys: "Sequence[str]" = (),
) -> DataFrame:
    """A8 streaming twin: tumbling 1-hour window agg with late-data
    watermark. Append mode emits a window once the watermark passes it;
    complete mode reproduces the batch result exactly. ``keys`` adds
    grouping columns (the fleet form: one windowed aggregate per station
    — state is partitioned by (key, window), the 100 TB shape)."""
    return (
        df.withWatermark(ts_col, delay)
        .groupBy(*keys, F.window(ts_col, "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(value_col), 3).alias("sum_value"),
        )
        .select(*keys, F.col("w.start").alias("hour_ts"), "n", "sum_value")
    )


def session_window_stream(
    df: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap: str = "30 minutes",
    delay: str = "1 hour",
) -> DataFrame:
    """Gap-based sessionization as a native streaming session window.

    The batch twin (`a_sessionize`) builds islands with lag+cumsum; in
    streaming that state is unbounded. `F.session_window` keeps one open
    window per key, merges events closer than ``gap``, and the watermark
    closes (and frees) sessions once event time moves past end+delay.
    Complete/availableNow drain reproduces the batch islands exactly.
    """
    return (
        df.withWatermark(ts_col, delay)
        .groupBy(F.col(key_col), F.session_window(ts_col, gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 3).alias("sum_value"),
        )
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def cusum_stateful(
    df: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    x_col: str,
    drift: int,
    order_cols: Sequence[str] | None = None,
) -> DataFrame:
    """One-sided CUSUM as a custom stateful streaming operator — the
    streaming twin of the batch prefix-scan closed form
    (``operators/windows.py`` ``cusum``; same exact integer semantics).

    State per key is the single running statistic ``s`` (one long —
    contrast the batch form's two window passes; streaming CUSUM is the
    textbook O(1)-state detector). Each micro-batch is sorted on
    ``order_cols`` (default ``[ts_col]``) before the fold; requires
    per-key in-order arrival ACROSS batches (file order).
    """
    from pyspark.sql.types import LongType

    order = list(order_cols or [ts_col])
    out_schema = StructType(
        [
            df.schema[key_col],
            StructField(ts_col, df.schema[ts_col].dataType),
            StructField("cusum", LongType()),
        ]
    )
    state_schema = StructType([StructField("s", LongType())])
    k = int(drift)

    def step(
        key: tuple,
        batches: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        (kk,) = key
        s = state.get[0] if state.exists else 0
        for pdf in batches:
            pdf = pdf.sort_values(order)
            out = []
            for x in pdf[x_col]:
                s = max(0, s + int(x) - k)
                out.append(s)
            yield pd.DataFrame(
                {key_col: kk, ts_col: pdf[ts_col].to_list(), "cusum": out}
            )
        state.update((s,))

    return df.groupBy(key_col).applyInPandasWithState(
        step,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def debounce_admit_stateful(
    df: DataFrame,
    *,
    keys: Sequence[str],
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_s: int,
) -> DataFrame:
    """Streaming admit-first-of-burst debounce — the realtime twin of the
    batch ``operators/dedup.debounce_keep_first``: the FIRST event of
    every burst (gap > ``gap_s`` since the previous event of the same
    key opens a new burst) is emitted immediately; the rest of the burst
    is suppressed. This is the alerting/debounce contract: the kept
    event of a burst is knowable at its first row, so append mode needs
    no burst finalization (``burst_n`` stays a batch-side aggregate —
    counting absorbed events is only final once the burst closes).

    State per key is one long (last-seen event time in epoch
    microseconds). Micro-batches are sorted on (ts, id) before the fold;
    requires per-key in-order arrival ACROSS batches (file order), the
    same contract as ``cusum_stateful``."""
    from pyspark.sql.types import LongType

    key_fields = [df.schema[k] for k in keys]
    out_schema = StructType(
        key_fields
        + [
            StructField("admitted_event_id", df.schema[id_col].dataType),
            StructField(ts_col, df.schema[ts_col].dataType),
        ]
    )
    state_schema = StructType([StructField("last_us", LongType())])
    gap_us = int(gap_s) * 1_000_000

    def step(
        key: tuple,
        batches: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        last = state.get[0] if state.exists else None
        for pdf in batches:
            pdf = pdf.sort_values([ts_col, id_col])
            # pin the unit before the int view: Arrow may hand the pandas
            # column over as datetime64[ns] or [us] depending on version
            us = (
                pdf[ts_col].astype("datetime64[ns]").astype("int64") // 1000
            )
            admit = []
            for t in us:
                admit.append(last is None or t - last > gap_us)
                last = int(t)
            kept = pdf[pd.Series(admit, index=pdf.index)]
            out = {
                k: [key[i]] * len(kept) for i, k in enumerate(keys)
            }
            out["admitted_event_id"] = kept[id_col].to_list()
            out[ts_col] = kept[ts_col].to_list()
            yield pd.DataFrame(out)
        if last is not None:
            state.update((last,))

    return df.groupBy(*keys).applyInPandasWithState(
        step,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_available_now(
    stream_df: DataFrame,
    *,
    output_mode: str = "append",
    name: str | None = None,
) -> DataFrame:
    """Drain all currently-available input through the streaming query
    (``trigger(availableNow=True)``) into an in-memory sink and return the
    result as a batch DataFrame. The batch-parity harness: a streaming
    pipeline's availableNow drain must equal its batch twin."""
    spark = stream_df.sparkSession
    qname = name or f"q_{uuid.uuid4().hex[:12]}"
    ckpt = os.path.join(tempfile.mkdtemp(prefix="ckpt_"), qname)
    q = (
        stream_df.writeStream.format("memory")
        .queryName(qname)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return spark.table(qname)


def foreach_batch_upsert(
    stream_df: DataFrame,
    snapshot_dir: str,
    key: str | list[str],
    order_by: Sequence[str],
    *,
    checkpoint_dir: str | None = None,
    output_mode: str = "update",
):
    """Incremental keyed-upsert sink — the ``foreachBatch`` MERGE loop.

    Each micro-batch of change rows is (1) latest-wins deduped on the key
    (``order_by`` descending picks the winner when one batch carries
    several versions of a key), then (2) merged into the parquet snapshot
    with :func:`~cassandra_fs_pp_spark.operators.joins.upsert_snapshot`
    full-row-replace semantics, and (3) the snapshot is swapped in via a
    two-rename protocol (current → ``.old``, temp → current, drop
    ``.old``) with crash RECOVERY in the read path: if a crash lands
    between the renames the next batch (or restart) finds the ``.old``
    snapshot and resumes the fold from it — no window exists where the
    merge base can silently vanish.  foreachBatch is at-least-once, so a
    replayed batch re-merges idempotently (latest-wins on the key).

    This is the standard Structured-Streaming CDC pattern when no
    transactional table format is available; at 100 TB, back the snapshot
    with a format that supports MERGE (then ``_merge`` becomes a single
    MERGE INTO) or partition the snapshot by key range and rewrite only
    partitions the change-set touches.

    Returns the started ``StreamingQuery`` (caller awaits termination).
    """
    import shutil

    from cassandra_fs_pp_spark.operators.dedup import dedup_keep_first
    from cassandra_fs_pp_spark.operators.joins import upsert_snapshot

    keys = [key] if isinstance(key, str) else list(key)

    old_dir = f"{snapshot_dir}.old"

    def _resolve_base_dir() -> str | None:
        """Current snapshot, or the ``.old`` one if a crash interrupted a
        previous swap between its two renames."""
        if os.path.isdir(snapshot_dir):
            if os.path.isdir(old_dir):  # crashed after rename 2: finish cleanup
                shutil.rmtree(old_dir)
            return snapshot_dir
        if os.path.isdir(old_dir):  # crashed between renames: recover
            return old_dir
        return None

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns:
            return
        latest = dedup_keep_first(
            batch_df, keys=keys, order_by=[F.desc(c) for c in order_by]
        )
        spark = batch_df.sparkSession
        base_dir = _resolve_base_dir()
        if base_dir is not None:
            base = spark.read.parquet(base_dir)
            merged = upsert_snapshot(base, latest.select(*base.columns), key=keys)
        else:
            merged = latest
        tmp = f"{snapshot_dir}.tmp-{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        # two-rename swap: every crash point leaves either snapshot_dir or
        # old_dir intact for _resolve_base_dir to pick up
        if base_dir == snapshot_dir:
            os.rename(snapshot_dir, old_dir)
        os.rename(tmp, snapshot_dir)
        if os.path.isdir(old_dir):
            shutil.rmtree(old_dir)

    ckpt = checkpoint_dir or os.path.join(
        tempfile.mkdtemp(prefix="ckpt_"), "upsert"
    )
    return (
        # output_mode is "append" when the upstream contains a
        # stream-stream join (joins only support append); the merge
        # itself is mode-agnostic — latest-wins keyed upsert either way
        stream_df.writeStream.foreachBatch(_merge)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def holt_stateful(
    df: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    x_col: str,
    order_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Holt linear smoothing (alpha = beta = 1/2) as a custom stateful
    streaming operator — the streaming twin of the batch struct-state
    fold (``__spark_entry__.ts_holt_linear``), bit-identical because the
    add/halve op order matches the batch fold exactly.

    State per key is ``(n, a, b)``: n counts events; before the second
    event ``a`` holds v1; from the second on ``(a, b)`` are (level,
    trend). Same in-order-arrival contract as ``cusum_stateful``.
    Emits the running (level, trend) per row; the final row per key
    equals the batch result.
    """
    from pyspark.sql.types import DoubleType, LongType

    order = list(order_cols or [ts_col])
    out_schema = StructType(
        [
            df.schema[key_col],
            StructField(ts_col, df.schema[ts_col].dataType),
            StructField("level", DoubleType()),
            StructField("trend", DoubleType()),
            StructField("n_seen", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("a", DoubleType()),
            StructField("b", DoubleType()),
        ]
    )

    def step(
        key: tuple,
        batches: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        (kk,) = key
        n, a, b = state.get if state.exists else (0, 0.0, 0.0)
        for pdf in batches:
            pdf = pdf.sort_values(order)
            levels, trends, seen = [], [], []
            for x in pdf[x_col]:
                x = float(x)
                if n == 0:
                    a, b = x, 0.0  # provisional: level=v1, trend 0
                elif n == 1:
                    a, b = x, x - a  # init l=v2, b=v2-v1
                else:
                    l2 = (x + (a + b)) / 2
                    b = ((l2 - a) + b) / 2
                    a = l2
                n += 1
                levels.append(a)
                trends.append(b)
                seen.append(n)
            yield pd.DataFrame(
                {
                    key_col: kk,
                    ts_col: pdf[ts_col].to_list(),
                    "level": levels,
                    "trend": trends,
                    "n_seen": seen,
                }
            )
        state.update((n, a, b))

    return df.groupBy(key_col).applyInPandasWithState(
        step,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def target_encode_prefix_stateful(
    df: DataFrame,
    *,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    id_col: str = "event_id",
    cents_col: str = "cents",
) -> DataFrame:
    """Causal (prefix) target encoding as a custom stateful operator —
    the streaming twin of the batch ``ml_target_encode_prefix`` window
    form: each event is encoded by the mean target of STRICTLY EARLIER
    events in its key group (null for the group's first event), the
    out-of-time encoding a leakage-safe feature pipeline actually wants.

    State per key is the pair ``(sum_cents, n)`` — two longs, O(1) per
    key. Each micro-batch sorts its group slice on ``(ts, id)`` before
    the fold; requires per-key in-order arrival ACROSS batches (file
    order), the same contract as ``cusum_stateful``.
    Integer sums + one exact double division per row, so the drained
    output is bit-identical to the batch window form.
    """
    from pyspark.sql.types import LongType

    keys = list(key_cols)
    out_schema = StructType(
        [df.schema[id_col]]
        + [df.schema[c] for c in keys]
        + [
            StructField(cents_col, LongType()),
            StructField("prefix_cents_mean", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("s", LongType()), StructField("n", LongType())]
    )

    import numpy as np

    def step(
        key: tuple,
        batches: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        s, n = (state.get if state.exists else (0, 0))
        for pdf in batches:
            pdf = pdf.sort_values([ts_col, id_col])
            c = pdf[cents_col].to_numpy(dtype="int64")
            cs = np.cumsum(c)
            prior = s + np.concatenate(([0], cs[:-1])) if len(c) else cs
            cnt = n + np.arange(len(c), dtype="int64")
            with np.errstate(divide="ignore", invalid="ignore"):
                # float64 (NaN -> SQL null for the first-of-group rows);
                # prior/cnt is the same single correctly-rounded IEEE
                # division per row the batch window form performs
                means = np.where(
                    cnt > 0, prior.astype("float64") / cnt, np.nan
                )
            out = {id_col: pdf[id_col].to_list()}
            for kc, kv in zip(keys, key):
                out[kc] = kv
            out[cents_col] = c
            out["prefix_cents_mean"] = means
            yield pd.DataFrame(out)
            if len(c):
                s += int(cs[-1])
                n += len(c)
        state.update((s, n))

    return df.groupBy(*keys).applyInPandasWithState(
        step,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
