"""Time-series window operators (SURVEY §2.7 — the heart of the reference).

Reference semantics, re-expressed as Spark window/column expressions (no
sequential UDFs anywhere — every op below is a declarative plan Catalyst can
optimize and Tungsten can codegen):

* W1/W2 rolling time-window median — ``rolling('2D').median()`` /
  ``rolling('3D', center=True).median()`` (``cassandra_fs_pp/fs_pp.py:562``,
  ``bin/fs_process_l2.py:71``). Spark: exact ``percentile(x, 0.5)`` over a
  ``rangeBetween`` frame on epoch seconds.
* W3 count-window median — ``rolling(3, center=True)`` -> ``rowsBetween``.
* W4 trailing time-window mean — ``rolling('24H').mean()`` (``bin/plot_L2.py:121``).
* W5 resample-to-grid + limited ffill — dominant-frequency detection + grid
  reindex + ``ffill(limit=3)`` (``cassandra_fs_pp/fs_pp.py:555-559``).
* W6 linear interpolation — ``Series.interpolate()`` (``bin/plot_L2.py:121``):
  leading nulls stay null, interior nulls blend time-weighted, trailing
  nulls carry the last valid value.
* W7 lag/diff of timestamps (``cassandra_fs_pp/fs_pp.py:557``).
* W8 surface-ratchet depth — the reference's sequential loop
  (``cassandra_fs_pp/fs_pp.py:636-641``) replaced by the verified closed
  form ``D_t = min(0, udg_t - max(ratchet_floor, cummax(udg)_t))``
  (SURVEY §2.7 W8 [verified]): a running-max window, fully parallel.
* W9 piecewise cumulative offset — per-event step subtraction
  (``cassandra_fs_pp/fs_pp.py:452-511``); events are O(1) driver-side.

Scale notes: every window spec takes ``partition_by`` — per-site/sensor
series at 100 TB must partition by series key so state never concentrates.
An unpartitioned ``Window.orderBy`` is accepted but Spark will warn: fine
for one short series, wrong for a fleet.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def _epoch_s(t: Column) -> Column:
    """Epoch seconds (floored) of a timestamp column.

    TIMESTAMP_NTZ has no direct numeric cast; route through TIMESTAMP —
    with the session pinned to UTC (session.py) the two agree wall-clock.
    """
    return t.cast("timestamp").cast("long")


def _epoch_d(t: Column) -> Column:
    """Epoch seconds with fractional part, as double."""
    return t.cast("timestamp").cast("double")


def time_frame(
    t: str | Column,
    *,
    before_s: int = 0,
    after_s: int = 0,
    partition_by: Sequence[str | Column] | None = None,
) -> WindowSpec:
    """Range frame over event-time epoch seconds: [t-before_s, t+after_s]."""
    tcol = F.col(t) if isinstance(t, str) else t
    base = Window.partitionBy(*partition_by) if partition_by else Window
    return base.orderBy(_epoch_s(tcol)).rangeBetween(-int(before_s), int(after_s))


def row_frame(
    t: str | Column,
    *,
    before: int = 0,
    after: int = 0,
    partition_by: Sequence[str | Column] | None = None,
) -> WindowSpec:
    """Row-count frame: [current-before, current+after] ordered by time."""
    tcol = F.col(t) if isinstance(t, str) else t
    base = Window.partitionBy(*partition_by) if partition_by else Window
    return base.orderBy(tcol).rowsBetween(-int(before), int(after))


def rolling_median(
    x: str | Column,
    frame: WindowSpec,
    *,
    min_periods: int = 0,
) -> Column:
    """W1/W2/W3 — median over a window frame.

    Spark has no native median *window* function; exact ``percentile(x,0.5)``
    over the frame is the JVM-side equivalent. ``min_periods`` nulls the
    result when fewer non-null points are in frame (pandas parity).
    """
    xcol = F.col(x) if isinstance(x, str) else x
    med = F.percentile(xcol, F.lit(0.5)).over(frame)
    if min_periods > 1:
        return F.when(F.count(xcol).over(frame) >= min_periods, med)
    return med


def ts_delta_seconds(
    t: str | Column,
    partition_by: Sequence[str | Column] | None = None,
    *,
    tiebreak: Sequence[str | Column] = (),
) -> Column:
    """W7 — seconds since the previous row's timestamp (null on first row).

    ``tiebreak``: extra ordering columns so the lag is deterministic when
    duplicate timestamps exist within a partition."""
    tcol = F.col(t) if isinstance(t, str) else t
    base = Window.partitionBy(*partition_by) if partition_by else Window
    w = base.orderBy(tcol, *tiebreak)
    return _epoch_s(tcol) - F.lag(_epoch_s(tcol)).over(w)


def per_key_dominant_freq(
    df: DataFrame, t: str, partition_by: Sequence[str]
) -> DataFrame:
    """A3 — the dominant sampling interval PER series key: the mode of
    successive timestamp deltas, smallest wins ties (pandas
    ``Series.mode()`` order; Spark's ``mode(deterministic=True)`` returns
    the lowest of the tied values).

    A fleet of stations with mixed logger programs (15-min summer /
    hourly winter) needs each series regularized on ITS OWN grid; with no
    keys the whole frame is one series. Returns ``(*keys, __freq_s)``,
    one row per key with at least two rows — lazy, O(keys) rows."""
    keys = list(partition_by)
    deltas = df.select(
        *keys, ts_delta_seconds(t, partition_by=keys).alias("delta")
    ).filter(F.col("delta").isNotNull())
    # the filter drops the no-key aggregate's one NULL row on < 2 rows
    return (
        deltas.groupBy(*keys)
        .agg(F.mode("delta", deterministic=True).alias("__freq_s"))
        .filter(F.col("__freq_s").isNotNull())
    )


def resample_grid(
    df: DataFrame,
    t: str,
    freq_s: int,
    partition_by: Sequence[str] | None = None,
    origin: str = "min",
) -> DataFrame:
    """W5 (grid half) — regular time grid spanning [min(t), max(t)] per key.

    Built as agg -> sequence -> explode -> left join; the original columns
    come back via the join (missing grid points -> nulls). The explode of a
    per-key bound row distributes naturally: one sequence per key.

    ``origin``: where grid points sit. ``"min"`` anchors at min(t);
    ``"start_day"`` anchors at midnight of min(t)'s day and starts at the
    last grid instant <= min(t) — pandas ``resample()`` default
    (``origin='start_day'``), needed for reference parity in the UDG filter.
    Original rows NOT exactly on a grid instant don't survive the join
    (pandas ``asfreq`` semantics — resample keeps only bin labels).
    """
    keys = list(partition_by or [])
    bounds = df.groupBy(*keys).agg(
        F.min(t).alias("__t0"),
        F.max(t).alias("__t1"),
        F.lit(int(freq_s)).alias("__fs"),
    )
    bounds = _apply_origin(bounds, origin)
    grid = bounds.select(
        *keys,
        F.explode(
            F.sequence("__t0", "__t1", F.expr(f"interval {int(freq_s)} seconds"))
        ).alias(t),
    )
    return grid.join(df, on=keys + [t], how="left")


def resample_ffill(
    df: DataFrame,
    t: str,
    freq_s: int | Mapping[tuple, int],
    *,
    limit: int,
    partition_by: Sequence[str] | None = None,
    origin: str = "min",
) -> DataFrame:
    """W5 — pandas ``resample(freq).ffill(limit=n)`` parity (reindex-ffill).

    Pandas' resample-ffill is a **reindex**, not a value ffill
    (``cassandra_fs_pp/fs_pp.py:559``): grid labels present in the original
    index keep their value — including NaN — and only *new* grid labels are
    filled, from the last original label's value (even if that value is
    NaN), for at most ``limit`` consecutive new labels. Off-grid original
    labels are dropped but still act as fill sources.

    ``freq_s``: grid step in seconds. An int applies one grid step to every
    key; a ``{key tuple: step}`` dict (e.g. the collected
    :func:`per_key_dominant_freq`) gives each ``partition_by`` key its own
    step, so a fleet of stations with mixed logger programs each
    regularize on their own grid. The dict folds into the plan as a
    literal ``CASE`` over the key columns — no join. Keys the dict does not
    list have no grid and are EXCLUDED from the output.

    Built as: full-outer join of the grid with the marked original rows,
    one running ``last(original struct)`` window per value column, then
    keep grid labels only. One shuffle (the join/window share the
    ``partition_by`` + time ordering).
    """
    keys = list(partition_by or [])
    value_cols = [c for c in df.columns if c not in keys + [t]]
    tcol = F.col(t)

    bounds = (
        df.groupBy(*keys)
        .agg(F.min(t).alias("__t0"), F.max(t).alias("__t1"))
        .withColumn("__fs", _grid_step(freq_s, keys))
        .filter(F.col("__fs").isNotNull())
    )
    bounds = _apply_origin(bounds, origin)
    grid = bounds.select(
        *keys,
        F.col("__fs"),
        F.explode(
            F.expr("sequence(__t0, __t1, make_dt_interval(0, 0, 0, __fs))")
        ).alias(t),
    ).withColumn("__grid", F.lit(True))

    marked = df.withColumn("__orig", F.lit(True))
    joined = grid.join(marked, on=keys + [t], how="full_outer")

    base = Window.partitionBy(*keys) if keys else Window
    w = base.orderBy(tcol).rowsBetween(Window.unboundedPreceding, 0)
    whole = base.orderBy(tcol).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # grid anchor per key: the first grid instant (needed to count how many
    # grid labels separate a fill target from its source); orig-only rows
    # inherit __fs from the partition the same way
    anchor = F.min(F.when(F.col("__grid"), _epoch_s(tcol))).over(whole)
    et = _epoch_s(tcol)
    fs = F.max("__fs").over(whole)

    out_cols: list[Column] = []
    for v in value_cols:
        vcol = F.col(v)
        lo = F.last(
            F.when(F.col("__orig"), F.struct(et.alias("et"), vcol.alias("v"))),
            ignorenulls=True,
        ).over(w)
        # #grid labels in (last_orig_t, t] == (et - floor_grid(lo.et)) / freq
        lo_floor = anchor + F.floor((lo["et"] - anchor) / fs) * fs
        fill_ok = (et - lo_floor) <= F.lit(int(limit)) * fs
        out_cols.append(
            F.when(F.col("__orig"), vcol).when(fill_ok, lo["v"]).alias(v)
        )
    return joined.filter(F.col("__grid")).select(*keys, t, *out_cols)


def _grid_step(freq_s: int | Mapping[tuple, int], keys: Sequence[str]) -> Column:
    """The grid step as a column over the key columns: one literal, or a
    ``CASE`` with one branch per dict entry (NULL for an unlisted key)."""
    if not isinstance(freq_s, Mapping):
        return F.lit(int(freq_s))
    step = None
    for key, s in freq_s.items():
        match = F.lit(True)
        for k, v in zip(keys, key):
            match = match & (F.col(k) == F.lit(v))
        step = (F if step is None else step).when(match, F.lit(int(s)))
    return F.lit(None).cast("long") if step is None else step


def _apply_origin(bounds: DataFrame, origin: str) -> DataFrame:
    """Shift per-key grid start ``__t0`` for the requested resample origin
    (grid step = the per-key ``__fs`` column)."""
    if origin == "start_day":
        fs = F.col("__fs")
        day = F.date_trunc("DAY", F.col("__t0")).cast("timestamp")
        off = F.col("__t0").cast("timestamp").cast("long") - day.cast("long")
        start = (
            (day.cast("long") + F.floor(off / fs) * fs)
            .cast("timestamp")
            .cast(bounds.schema["__t0"].dataType)
        )
        return bounds.withColumn("__t0", start)
    if origin != "min":
        raise ValueError("origin must be 'min' or 'start_day'")
    return bounds


def ffill_limited(
    value: str | Column,
    t: str | Column,
    *,
    limit: int,
    freq_s: int,
    partition_by: Sequence[str | Column] | None = None,
) -> Column:
    """W5 (fill half) — forward-fill, at most ``limit`` grid steps back.

    Carries the last non-null value AND its timestamp; the fill is voided
    when the gap exceeds ``limit * freq_s`` seconds. Works on or off a
    regular grid (gap measured in time, as pandas ffill(limit=) does on a
    resampled index).
    """
    vcol = F.col(value) if isinstance(value, str) else value
    tcol = F.col(t) if isinstance(t, str) else t
    base = Window.partitionBy(*partition_by) if partition_by else Window
    w = base.orderBy(tcol).rowsBetween(Window.unboundedPreceding, 0)
    last_val = F.last(vcol, ignorenulls=True).over(w)
    last_t = F.last(F.when(vcol.isNotNull(), tcol), ignorenulls=True).over(w)
    gap_ok = (_epoch_s(tcol) - _epoch_s(last_t)) <= (limit * freq_s)
    return F.when(vcol.isNotNull(), vcol).when(gap_ok, last_val)


def interpolate_linear(
    value: str | Column,
    t: str | Column,
    partition_by: Sequence[str | Column] | None = None,
) -> Column:
    """W6 — pandas ``Series.interpolate(method='index')`` semantics
    (time-weighted blend).  NOTE: pandas' *default* ``method='linear'``
    is POSITIONAL (index-ignoring); the two coincide on the regular grids
    the reference interpolates (it resamples before interpolating,
    ``bin/plot_L2.py:121``), which is why the parity tests pass — on an
    irregular grid this is the index/time-weighted form, deliberately.

    Interior nulls: time-weighted blend of neighbors. Trailing nulls: carry
    last valid. Leading nulls: stay null.
    """
    vcol = F.col(value) if isinstance(value, str) else value
    tcol = F.col(t) if isinstance(t, str) else t
    base = Window.partitionBy(*partition_by) if partition_by else Window
    w_back = base.orderBy(tcol).rowsBetween(Window.unboundedPreceding, 0)
    w_fwd = base.orderBy(tcol).rowsBetween(0, Window.unboundedFollowing)
    pv = F.last(vcol, ignorenulls=True).over(w_back)
    pt = F.last(F.when(vcol.isNotNull(), tcol), ignorenulls=True).over(w_back)
    nv = F.first(vcol, ignorenulls=True).over(w_fwd)
    nt = F.first(F.when(vcol.isNotNull(), tcol), ignorenulls=True).over(w_fwd)
    span = _epoch_d(nt) - _epoch_d(pt)
    frac = (_epoch_d(tcol) - _epoch_d(pt)) / span
    blended = pv + (nv - pv) * frac
    return (
        F.when(vcol.isNotNull(), vcol)
        .when(pv.isNull(), F.lit(None))
        .when(nv.isNull(), pv)
        .otherwise(blended)
    )


def ratchet_depth(
    udg: str | Column,
    t: str | Column,
    install_depth: float,
    partition_by: Sequence[str | Column] | None = None,
) -> Column:
    """W8 — time-varying burial depth with melt-out ratchet, closed form.

    The reference walks the series with mutable offset state
    (``cassandra_fs_pp/fs_pp.py:636-641``); SURVEY §2.7 W8 verified the
    equivalent closed form

        D_t = min(0, udg_t - max(-install_depth, running_max(udg)_t))

    which is a single running-max window — parallel, no Python loop.
    ``install_depth`` is the sensor's initial depth below the surface
    (negative number, metres), matching the reference's convention.
    """
    ucol = F.col(udg) if isinstance(udg, str) else udg
    tcol = F.col(t) if isinstance(t, str) else t
    base = Window.partitionBy(*partition_by) if partition_by else Window
    w = base.orderBy(tcol).rowsBetween(Window.unboundedPreceding, 0)
    floor = F.greatest(F.lit(-float(install_depth)), F.max(ucol).over(w))
    return F.least(F.lit(0.0), ucol - floor)


def piecewise_offset(
    x: str | Column,
    t: str | Column,
    events: Sequence[tuple],
) -> Column:
    """W9 — subtract a step ``delta`` from all values at/after each event.

    ``events`` is a driver-side list of ``(timestamp, delta)`` (few per
    site). Auto-derived deltas (pre/post medians) live in the pipeline
    layer, since each requires an action.
    """
    xcol = F.col(x) if isinstance(x, str) else x
    tcol = F.col(t) if isinstance(t, str) else t
    adj = F.lit(0.0)
    for ts, delta in events:
        adj = adj + F.when(tcol >= F.lit(ts), F.lit(float(delta))).otherwise(F.lit(0.0))
    return xcol - adj


def time_weighted_avg(
    df: DataFrame,
    keys: Sequence[str],
    t: str,
    x: str,
    *,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Step-function time-weighted mean per series.

    Each sample holds until the next sample; its weight is the hold
    duration. This is the *exact* aggregate the reference approximates by
    regularizing onto a grid and averaging (W5 resample at
    ``cassandra_fs_pp/fs_pp.py:555-559`` + A8 downsample) — for irregular
    mixed summer/winter sampling the grid approximation biases toward
    densely-sampled regimes; the time weighting does not.

    Durations are microsecond-exact integers (``unix_micros``), so the only
    float work is the final weighted ratio. One window pass + one groupBy,
    both hash-partitioned on ``keys`` — Catalyst reuses the exchange.
    Emits ``(keys..., twa_value, span_s, n_holds)``; a key's last sample
    (no successor => no duration) is excluded, so single-sample keys drop.
    """
    order = [F.col(t)] + [F.col(c) for c in tiebreak]
    w = Window.partitionBy(*keys).orderBy(*order)
    us = F.unix_micros(F.col(t).cast("timestamp"))
    d = df.withColumn("__dur_us", F.lead(us).over(w) - us).filter(
        F.col("__dur_us").isNotNull()
    )
    return d.groupBy(*keys).agg(
        (F.sum(F.col(x) * F.col("__dur_us")) / F.sum("__dur_us")).alias("twa_value"),
        (F.sum("__dur_us") / F.lit(1e6)).alias("span_s"),
        F.count(F.lit(1)).alias("n_holds"),
    )


def sweep_concurrency(
    df: DataFrame,
    start: str,
    end: str,
) -> DataFrame:
    """Max concurrent intervals per day — distributed sweep-line.

    Classic formulation: emit +1 at each interval start and -1 at each end
    (half-open ``[start, end)`` via end-before-start tie order), running-sum
    the deltas in time order, take the max per day. A naive single global
    ``ORDER BY`` cumsum serializes 100 TB of boundaries through one
    partition; instead the running sum is split into (a) a within-day
    cumsum over a window hash-partitioned by day and (b) a per-day baseline
    = running total of *prior* days' deltas, computed on the tiny day-level
    aggregate and broadcast back. (a)+(b) equals the global cumsum exactly,
    because day boundaries respect the global (t, d) ordering.

    The day maximum includes the CARRIED-IN baseline itself (intervals
    open at midnight hold until the day's first boundary, so a day whose
    events are all ends still peaked at ``base``).  Contract: only days
    with at least one boundary event are emitted — a day lying entirely
    inside long intervals has no row; join a day spine against the
    running baseline if silent days must be reported.
    """
    # explode(array(...)) emits both boundary rows from ONE pass over the
    # input (a union of two selects would scan it twice per consumer)
    boundaries = df.select(
        F.explode(
            F.array(
                F.struct(F.col(start).alias("t"), F.lit(1).alias("d")),
                F.struct(F.col(end).alias("t"), F.lit(-1).alias("d")),
            )
        ).alias("b")
    ).select("b.t", "b.d")
    boundaries = boundaries.withColumn("day_ts", F.date_trunc("day", F.col("t")))
    wd = (
        Window.partitionBy("day_ts")
        .orderBy("t", "d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = boundaries.withColumn("run", F.sum("d").over(wd))
    # Day-level baseline: one row per day — driver-scale, single-partition
    # window is fine (and exact).
    day_tot = boundaries.groupBy("day_ts").agg(F.sum("d").alias("day_delta"))
    woff = Window.orderBy("day_ts").rowsBetween(Window.unboundedPreceding, -1)
    offsets = day_tot.withColumn(
        "base", F.coalesce(F.sum("day_delta").over(woff), F.lit(0))
    ).select("day_ts", "base")
    return (
        within.join(F.broadcast(offsets), "day_ts")
        .groupBy("day_ts")
        .agg(
            F.greatest(
                F.max("base"), F.max(F.col("base") + F.col("run"))
            ).alias("max_concurrent")
        )
    )


def step_detect(
    df: DataFrame,
    keys: Sequence[str],
    t: str,
    x: str,
    *,
    before_s: tuple[int, int] = (259_200, 86_400),
    after_s: tuple[int, int] = (0, 172_800),
    threshold: float,
    min_periods: int = 2,
) -> DataFrame:
    """W9 auto-detection, generalized: flag candidate step changes.

    The reference derives UDG height-change offsets from a pre/post-event
    median contrast but needs the event *dates* hand-configured in TOML
    (``cassandra_fs_pp/fs_pp.py:452-511``, ``example_fs1.toml:30``). This
    detects them: for each row, the median of the preceding window
    ``[t-before_s[0], t-before_s[1]]`` vs the following window
    ``[t+after_s[0], t+after_s[1]]``; rows where ``|med_after - med_before|``
    exceeds ``threshold`` (with ``min_periods`` samples in each frame) are
    step candidates. Two range-frame medians over one partitioning — same
    exchange, exact ``percentile``.

    Emits the flagged rows with ``med_before``, ``med_after``, ``step``.
    """
    xcol = F.col(x)
    wb = time_frame(t, before_s=before_s[0], after_s=-before_s[1], partition_by=keys)
    wa = time_frame(t, before_s=-after_s[0], after_s=after_s[1], partition_by=keys)
    out = df.withColumns(
        {
            "med_before": rolling_median(xcol, wb, min_periods=min_periods),
            "med_after": rolling_median(xcol, wa, min_periods=min_periods),
        }
    ).withColumn("step", F.col("med_after") - F.col("med_before"))
    return out.filter(F.abs(F.col("step")) > float(threshold))


def cusum(
    df: DataFrame,
    keys: Sequence[str],
    t: str | Sequence[str],
    x: str,
    *,
    drift: int,
    out_col: str = "cusum",
) -> DataFrame:
    """One-sided CUSUM change detector, shuffle-free closed form.

    The textbook recurrence ``s_i = max(0, s_{i-1} + (x_i - drift))`` looks
    inherently sequential (and the obvious port is a per-key Python loop),
    but it has an exact prefix-scan closed form:

        ``s_i = R_i - min(0, min_{j<=i} R_j)``  with  ``R = cumsum(x - drift)``

    so it is two running window aggregates (cumulative sum + running min)
    over ONE partitioning — a single exchange on ``keys``, fully
    JVM-side, linear at any scale. No ``applyInPandas``, no driver loop.

    ``x`` should be an integer column (quantize floats first): integer
    sums keep the result exact and engine-portable. Beyond the reference
    (its despike is threshold-vs-rolling-median, fs_pp.py:443); CUSUM is
    the standard drift/level-shift detector for sensor streams.
    """
    order = [t] if isinstance(t, str) else list(t)
    w = (
        Window.partitionBy(*keys)
        .orderBy(*[F.col(c).asc() for c in order])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    d = F.col(x).cast("long") - F.lit(int(drift))
    # Catalyst can't nest window exprs directly; stage the prefix sum.
    staged = df.withColumn("__r", F.sum(d).over(w))
    return staged.withColumn(
        out_col,
        F.col("__r") - F.least(F.lit(0).cast("long"), F.min("__r").over(w)),
    ).drop("__r")
