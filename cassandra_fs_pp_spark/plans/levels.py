"""Level-0 -> Level-1 -> Level-2 pipelines (SURVEY §3 query lifecycle).

Reference-parity flows, re-expressed as lazy DataFrame lineages:

* :func:`level0_to_level1` — the reference's ``level0_to_level1``
  (``cassandra_fs_pp/fs_pp.py:68-106``): per-dataset TOA5 scans (bales /
  onefile / serviced append, ``:109-217``), outer union, all-NaN column
  prune, deterministic keep-first time dedup (which subsumes the exact
  dedup).
* :func:`fleet_normalise_udg` — ``_normalise_udg`` (``fs_pp.py:452-511``):
  the piecewise height-change offset (W9) with auto-derived deltas from
  pre/post-event medians (A1), plus each site's dominant step (A3).
* :func:`filter_udg` — ``_filter_udg`` (``fs_pp.py:514-567``): quality gate
  (P8), dominant-frequency regularization + limited ffill (A3/W5), trailing
  rolling-median despike (W1/P9), re-alignment to original timestamps (J2).
* :func:`calibrate_ec` — ``_calibrate_ec`` (``fs_pp.py:570-608``): per-sensor
  linear calibration with fallback-to-mean coefficients (J1).
* :func:`fleet_level1_to_level2` — ``level1_to_level2`` (``fs_pp.py:263-299``):
  validity nulling (P7), column drops (P4), regex rename (P6), UDG
  normalize+filter, calibrated EC overwrite (J5), final dedup.
* :func:`fleet_calc_depth_tdr` — ``_calc_depth_tdr`` (``fs_pp.py:611-644``):
  the surface-ratchet burial depth, via the verified closed form (W8)
  instead of the reference's sequential loop.
* :func:`chain_installation_depths` — ``chain_installation_depths``
  (``fs_pp.py:427-449``): driver-side chain geometry -> sensor dim table (R3).

The L1 -> L2 stage has one implementation, keyed by site: every window
partitions by the site column, whatever the number of stations. The
reference's one-station run, :func:`level1_to_level2` /
:func:`calc_depth_tdr`, is that implementation over a one-site fleet (a
literal site key added, then dropped).

Scale stance: every per-row transformation stays a single lazy lineage that
Catalyst optimizes end-to-end. The per-site scalars, the auto
height-change medians (O(auto events) rows) and the dominant sampling
step (O(sites) rows), come back in ONE build-time collect over all sites
and are folded back into the plan, so no sink recomputes them. The
despiked UDG re-enters L2 through one left join on ``(site, time)``. The
at-install UDG reading needs no job: it is a ``first`` window in the
depth lineage. The engine's own CSVs are re-read with declared types
(:func:`load_level1_csv`), so loading L1 runs no job.
"""

from __future__ import annotations

import csv
import datetime as _dt
import glob
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_fs_pp_spark.config import DEFAULT_VALID_RANGES, SiteConfig
from cassandra_fs_pp_spark.operators.dedup import dedup_keep_first
from cassandra_fs_pp_spark.operators.projection import (
    DEFAULT_L2_RENAME,
    build_l2_rename,
    prune_all_null_columns,
    rename_columns,
)
from cassandra_fs_pp_spark.operators.validity import null_out_of_range, quality_gate
from cassandra_fs_pp_spark.operators.windows import (
    per_key_dominant_freq,
    ratchet_depth,
    resample_ffill,
    rolling_median,
    time_frame,
)
from cassandra_fs_pp_spark.sources.toa5 import _head_lines, read_toa5, toa5_schema_ddl

TIME = "TIMESTAMP"
# the literal site key that runs one station as a one-site fleet
_SITE = "__site"
# the UDG despike's parameters (``fs_pp.py:514-567``): one copy for
# filter_udg's defaults and the L2 lineage
_MED_WINDOW_S = 2 * 86400
_SPIKE_THRESHOLD = 0.5
_FFILL_LIMIT = 3


# --------------------------------------------------------------------------- #
# Level-0 -> Level-1
# --------------------------------------------------------------------------- #


def resolve_level0_paths(cfg: SiteConfig, data_root: str) -> list[list[str]]:
    """Driver-side path resolution for every configured level-0 dataset,
    in config order (S2/S3; reference ``fs_pp.py:109-217``).

    Bales expand to ``MainTable{i}.dat`` for i in [bales_start, bales_stop];
    ``onefile`` is the configured subpath. The LAST dataset also appends a
    single ``serviced/*MainTable*`` file when present (``fs_pp.py:132-149``).
    Pure metadata plane: a handful of ``os.path`` operations per site.
    """
    names = list(cfg.datasets)
    out: list[list[str]] = []
    for n, name in enumerate(names):
        ds = cfg.datasets[name]
        paths: list[str] = []
        if ds["type"] == "bales":
            root = os.path.join(data_root, name, ds.get("subpath", ""))
            for i in range(ds["bales_start"], ds["bales_stop"] + 1):
                paths.append(os.path.join(root, f"MainTable{i}.dat"))
            serviced_root = os.path.join(root, "serviced")
        elif ds["type"] == "onefile":
            paths.append(os.path.join(data_root, name, ds["subpath"]))
            serviced_root = os.path.join(
                data_root, name, os.path.split(ds["subpath"])[0], "serviced"
            )
        else:
            raise ValueError(f"dataset {name}: unknown type {ds['type']!r}")
        if n == len(names) - 1 and os.path.isdir(serviced_root):
            found = glob.glob(os.path.join(serviced_root, "*MainTable*"))
            if len(found) == 1:
                paths.append(found[0])
        out.append(paths)
    return out


def level0_to_level1(
    spark: SparkSession,
    cfg: SiteConfig,
    data_root: str,
    *,
    keep_provenance: bool = False,
) -> DataFrame:
    """L0 -> L1: scan all datasets, union, prune, dedup (``fs_pp.py:68-106``).

    Determinism: pandas resolves duplicate timestamps by concat order
    (file order, then row order). Spark's ``dropDuplicates`` keeps an
    arbitrary row, so the lineage carries an explicit ``(_seq, RECORD)``
    ordering — ``_seq`` is the global file index, ``RECORD`` the logger's
    per-file monotone sequence number — and the dedup is a keep-first
    row_number window over it (SURVEY §7.4).

    The reference's exact-row dedup (P2, ``drop_duplicates()``) runs before
    its time dedup (P3). Here P3 alone gives the same rows: ``TIMESTAMP``
    and ``RECORD`` are part of P2's key, so P2 drops a row only in favour
    of an identical one with the same or a smaller ``_seq``, and never
    removes P3's pick without keeping an identical copy. Ties on
    ``(_seq, RECORD)`` are arbitrary in both forms. Skipping P2 saves one
    all-column shuffle and sort per station (differential-tested in
    ``tests/test_toa5_pipeline.py``).
    """
    per_dataset = resolve_level0_paths(cfg, data_root)
    flat = [p for ds_paths in per_dataset for p in ds_paths]
    seq_of = {os.path.abspath(p): i for i, p in enumerate(flat)}

    frames: list[DataFrame] = []
    for ds_paths in per_dataset:
        # one scan per dataset: datasets may have different logger programs
        # (schemas); files within a dataset share one program.
        df = read_toa5(spark, ds_paths, with_provenance=True)
        frames.append(df)
    union = frames[0]
    for df in frames[1:]:
        union = union.unionByName(df, allowMissingColumns=True)

    # _file (a file:// URI) -> global sequence number, as a literal map:
    # a few entries per site, folded into the plan (no join, no shuffle).
    # input_file_name() percent-encodes the URI, so match BOTH the raw
    # path and its quoted form (a space in data_root would otherwise
    # silently NULL every _seq and break keep-first determinism).
    from urllib.parse import quote as _quote

    seq_expr = F.lit(None).cast("int")
    for path, i in seq_of.items():
        cond = F.col("_file").endswith(path)
        q = _quote(path)
        if q != path:
            cond = cond | F.col("_file").endswith(q)
        seq_expr = F.when(cond, F.lit(i)).otherwise(seq_expr)
    union = union.withColumn("_seq", seq_expr).drop("_file")

    # P1 all-null column prune (one count pass, then Catalyst prunes the scan)
    union = prune_all_null_columns(union, protect=(TIME, "RECORD", "_seq"))

    # P3 keep-first time dedup; it subsumes P2's exact-row dedup (docstring)
    union = dedup_keep_first(union, keys=[TIME], order_by=["_seq", "RECORD"])

    if not keep_provenance:
        union = union.drop("_seq")
    return union


# --------------------------------------------------------------------------- #
# UDG normalization + filtering
# --------------------------------------------------------------------------- #


def _round2_half_up(x: float) -> float:
    """2-dp HALF_UP round matching Spark's ``F.round(col, 2)`` on doubles
    (Spark rounds BigDecimal.valueOf(d) = the shortest decimal repr, which
    is exactly what ``repr(float)`` yields)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def _to_ts(d) -> _dt.datetime:
    if isinstance(d, _dt.datetime):
        return d
    if isinstance(d, _dt.date):
        return _dt.datetime(d.year, d.month, d.day)
    return _dt.datetime.fromisoformat(str(d))


def _utc(d: _dt.datetime) -> _dt.datetime:
    """A naive datetime (the reference's tz-naive UTC config dates) as a
    tz-aware UTC one."""
    return d if d.tzinfo else d.replace(tzinfo=_dt.timezone.utc)


def filter_udg(
    l1: DataFrame,
    *,
    udg_col: str = "TCDT",
    q_col: str = "Q",
    t: str = TIME,
    med_window_s: int = _MED_WINDOW_S,
    threshold: float = _SPIKE_THRESHOLD,
    ffill_limit: int = _FFILL_LIMIT,
    partition_by: Sequence[str] | None = None,
) -> DataFrame:
    """P8 + W5 + W1 + P9 + J2 — the UDG despike filter (``fs_pp.py:514-567``).

    1. quality gate: keep only ``150 <= Q <= 210`` (null Q -> 150);
    2. regularize to the dominant sampling grid, forward-fill <= 3 steps;
    3. trailing ``med_window_s`` rolling median over the regular grid
       (pandas ``closed='right'`` frame: the point exactly window-start is
       excluded -> range frame ``[-(w-1), 0]`` on whole-second grids);
    4. null out points ``abs(median - x) >= threshold``;
    5. re-align onto the original (irregular) timestamps.

    ``l1`` carries ``(*partition_by, t, udg_col, q_col)``; every window
    partitions by ``partition_by`` (none: the frame is one series).
    Building the lineage runs one job, :func:`per_key_dominant_freq`'s
    collect. A key with fewer than two rows has no grid and drops out.
    """
    keys = list(partition_by or [])
    despiked = _despike(
        l1,
        None,
        udg_col=udg_col,
        q_col=q_col,
        t=t,
        med_window_s=med_window_s,
        threshold=threshold,
        ffill_limit=ffill_limit,
        keys=keys,
    )
    # J2: back to the original sampling instants
    return despiked.join(l1.select(*keys, t), on=keys + [t], how="inner")


def _despike(
    l1: DataFrame,
    steps: dict[tuple, int] | None,
    *,
    udg_col: str,
    q_col: str,
    t: str,
    keys: list[str],
    med_window_s: int,
    threshold: float,
    ffill_limit: int,
) -> DataFrame:
    """Steps 1-4 of :func:`filter_udg`: ``(*keys, t, udg_col)`` on each
    key's regular grid, one row per grid instant. ``steps`` is each key's
    dominant step, ``{key tuple: seconds}``; None computes it with
    :func:`per_key_dominant_freq`. The L2 lineage passes the steps it
    already fetched and re-aligns the result with its own left join on
    ``(*keys, t)``; L1 is unique on that key, so the inner J2 join would
    only repeat it."""
    gated = l1.select(
        *keys, t, quality_gate(F.col(udg_col), F.col(q_col)).alias(udg_col)
    )
    if steps is None:
        # A3: every key's dominant step in one build-time job (O(keys)
        # rows), folded into the plan, so the lineage's sinks do not
        # recompute it
        steps = {
            tuple(r[k] for k in keys): r["__freq_s"]
            for r in per_key_dominant_freq(gated, t, keys).collect()
        }
    if not steps:
        raise ValueError("need >=2 rows to detect sampling frequency")
    filled = resample_ffill(
        gated, t, steps, limit=ffill_limit, partition_by=keys, origin="start_day"
    )
    frame = time_frame(t, before_s=med_window_s - 1, partition_by=keys)
    return filled.select(
        *keys,
        t,
        F.when(
            F.abs(rolling_median(udg_col, frame) - F.col(udg_col))
            < F.lit(float(threshold)),
            F.col(udg_col),
        ).alias(udg_col),
    )


def fleet_normalise_udg(
    l1: DataFrame,
    events_by_site: dict[str, Sequence[Sequence]],
    *,
    udg_col: str = "TCDT",
    site_col: str = "site",
    t: str = TIME,
) -> tuple[DataFrame, dict[tuple, int]]:
    """W9 — stitch UDG height-change jumps at N stations at once
    (``fs_pp.py:452-511``), and fetch every site's dominant sampling step
    (A3) in the same collect.

    ``events_by_site``: per site, the config ``udg_height_change`` rows,
    ``[date, delta]`` or ``[date]``. The FIRST event zeroes the series at
    the install height (delta required). Later events subtract a user
    delta, or an auto-derived one: ``round(median([date..date+1d]) -
    median([date-1d..date-4h]), 2)`` with both medians rounded to 2dp
    first, taken on the series with every earlier-listed offset applied.

    All sites' auto-delta medians come from ONE distributed aggregation:
    a broadcast-sized (site, event, date) table range-joins the fleet
    frame, pre/post medians aggregate per (site, event) in a single
    shuffle, and one collect of #auto_events + #sites rows (the medians
    and :func:`per_key_dominant_freq` over ``l1``'s timestamps) lets the
    driver finish the (cheap, order-dependent) rounding recurrence. That
    collect is the L1 -> L2 lineage's one build-time job. Offsets
    re-enter the lineage as a per-site event array via one broadcast
    join; the subtraction runs per event in config order (``acc -
    delta``).

    The medians are taken on the raw series and shifted by the earlier
    offsets, which equals the reference's sequential recurrence when every
    earlier-listed event applies to the whole ``[date-1d, date+1d]``
    window, i.e. sits at or before ``date - 1 day``. An auto event that
    breaks this raises (tested against a pandas re-statement of the
    reference loop in tests/test_fleet.py).

    Returns ``l1`` with ``udg_col`` normalised, as ``(site_col, t,
    udg_col, *other columns)``, and ``{(site,): step seconds}``, the
    grid the L2 lineage's despike regularizes on.
    """
    spark = l1.sparkSession
    # -- driver-side event bookkeeping (metadata plane) --
    auto_rows = []  # (site, event_index, date)
    parsed: dict[str, list[tuple[int, _dt.datetime, float | None]]] = {}
    for site, events in events_by_site.items():
        out = []
        for k, ev in enumerate(events):
            if isinstance(ev, (list, tuple)) and len(ev) == 2:
                date, user_delta = _to_ts(ev[0]), float(ev[1])
            else:
                date = _to_ts(ev[0] if isinstance(ev, (list, tuple)) else ev)
                user_delta = None
            if k == 0 and user_delta is None:
                raise ValueError(
                    f"site {site}: first udg_height_change event needs a height"
                )
            if user_delta is None:
                # offset invariance (docstring): every earlier-listed event
                # at or before date - 1 day (explicit user deltas don't use
                # the median windows, so they're exempt)
                late = [d for _, d, _ in out if d > date - _dt.timedelta(days=1)]
                if late:
                    raise ValueError(
                        f"site {site}: auto udg_height_change event at {date} "
                        "needs every earlier-listed event at least 1 day "
                        f"before it, but one is at {late[0]}; supply its "
                        "height explicitly"
                    )
                auto_rows.append((site, k, date))
            out.append((k, date, user_delta))
        parsed[site] = out

    # -- one collect for every auto event's medians and every site's step --
    # A3: the step needs only the timestamps, and the despike gates
    # l1's rows without dropping any
    scalars = per_key_dominant_freq(l1, t, [site_col]).select(
        F.col(site_col).cast("string").alias("__site"),
        F.lit(None).cast("int").alias("__k"),
        F.lit(None).cast("double").alias("pre_m"),
        F.lit(None).cast("double").alias("post_m"),
        "__freq_s",
    )
    if auto_rows:
        # r18 (VERDICT r17 item 8): LocalTableScan route instead of a
        # pickled-row RDD — the broadcast build below reads it driver-
        # side with no Python-worker job.  Dates go in as tz-aware UTC:
        # the Arrow route reads a naive datetime in the session time zone
        # but the pickled fallback in the host's, so only aware values
        # land identically on both (tests/test_fleet.py)
        from cassandra_fs_pp_spark.session import local_table

        ev_df = local_table(
            spark,
            [(site, k, _utc(date)) for site, k, date in auto_rows],
            f"{site_col} string, __k int, __date timestamp",
        )
        d1 = F.expr("INTERVAL 1 DAY")
        h4 = F.expr("INTERVAL 4 HOURS")
        near = l1.join(
            F.broadcast(ev_df),
            (l1[site_col] == ev_df[site_col])
            & (F.col(t) >= F.col("__date") - d1)
            & (F.col(t) <= F.col("__date") + d1),
        ).select(
            ev_df[site_col].alias("__site"),
            "__k",
            F.when(
                (F.col(t) >= F.col("__date") - d1)
                & (F.col(t) <= F.col("__date") - h4),
                F.col(udg_col),
            ).alias("__pre"),
            F.when(F.col(t) >= F.col("__date"), F.col(udg_col)).alias("__post"),
        )
        med = near.groupBy("__site", "__k").agg(
            F.median("__pre").alias("pre_m"), F.median("__post").alias("post_m")
        )
        scalars = med.withColumn("__freq_s", F.lit(None).cast("long")).union(scalars)
    raw_medians: dict[tuple[str, int], tuple[float | None, float | None]] = {}
    steps: dict[tuple, int] = {}
    for r in scalars.collect():
        if r["__k"] is None:
            steps[(r["__site"],)] = r["__freq_s"]
        else:
            raw_medians[(r["__site"], r["__k"])] = (r["pre_m"], r["post_m"])

    # -- cheap sequential rounding recurrence per site (driver, no jobs) --
    deltas_by_site: dict[str, list[tuple[_dt.datetime, float]]] = {}
    for site, events in parsed.items():
        off = 0.0
        out = []
        for k, date, user_delta in events:
            if user_delta is not None:
                delta = user_delta
            else:
                pre_raw, post_raw = raw_medians.get((site, k), (None, None))
                if pre_raw is None or post_raw is None:
                    raise ValueError(
                        f"site {site}: no UDG data around height change at {date}"
                    )
                # round the offset-applied medians (median commutes with the
                # shift) HALF_UP, as Spark's F.round does — Python round() is
                # banker's and diverges by 0.01 on exact .xx5 medians
                delta = round(
                    _round2_half_up(post_raw - off) - _round2_half_up(pre_raw - off),
                    2,
                )
            off += delta
            out.append((date, delta))
        deltas_by_site[site] = out

    # -- re-enter the lineage: per-site event array via one broadcast join --
    # r18: dict-shaped struct cells so the Arrow/pandas LocalTableScan
    # route can convert them (tuples fall back to the pickled path);
    # both routes accept dicts and tz-aware dates, so the fallback stays
    # value-identical
    from cassandra_fs_pp_spark.session import local_table

    dim = local_table(
        spark,
        [
            (site, [{"d": _utc(d), "delta": float(dl)} for d, dl in evs])
            for site, evs in deltas_by_site.items()
        ],
        f"{site_col} string, __evs array<struct<d:timestamp,delta:double>>",
    )
    tc = F.col(t)
    # coalesce: a site with NO configured events folds over an empty
    # array (pass-through) — a NULL __evs from the left join would
    # otherwise NULL the site's whole series
    applied = F.aggregate(
        F.filter(
            F.coalesce(
                F.col("__evs"),
                F.expr("CAST(array() AS array<struct<d:timestamp,delta:double>>)"),
            ),
            lambda e: e["d"] <= tc,
        ),
        F.col(udg_col).cast("double"),
        lambda acc, e: acc - e["delta"],
    )
    carried = [c for c in l1.columns if c not in (site_col, t, udg_col)]
    norm = l1.join(F.broadcast(dim), on=site_col, how="left").select(
        site_col, t, applied.alias(udg_col), *carried
    )
    return norm, steps


def fleet_level1_to_level2(
    l1: DataFrame,
    cfg: SiteConfig,
    events_by_site: dict[str, Sequence[Sequence]],
    calibrations: dict[str, tuple[float, float]] | None = None,
    *,
    site_col: str = "site",
    valid_ranges: dict[str, tuple[float, float]] = DEFAULT_VALID_RANGES,
    rename_mapping: Sequence[tuple[str, str]] = DEFAULT_L2_RENAME,
    t: str = TIME,
) -> DataFrame:
    """L1 -> L2 for a FLEET: ``l1`` carries ``site_col`` and every window /
    grid / join in the UDG chain partitions by it (per-site dominant
    frequency via :func:`per_key_dominant_freq`, no unpartitioned window
    anywhere — asserted in tests/test_fleet.py). The reference runs one
    station at a time (``bin/fs_process_l2.py``); this is the same
    semantics at any number of stations with one pass over the data.

    Sites share a logger program (one schema, one valid-range spec, one
    rename mapping — the realistic fleet deployment); per-site metadata
    (height-change events) arrives via ``events_by_site``.
    """
    bounded = null_out_of_range(l1, valid_ranges)

    udg_col, q_col = cfg.udg_key, "Q"
    # Q rides through the offset join to the quality gate; the medians
    # and the dominant steps come back in one collect
    norm, steps = fleet_normalise_udg(
        bounded.select(site_col, t, udg_col, q_col),
        events_by_site,
        udg_col=udg_col,
        site_col=site_col,
        t=t,
    )
    udg_l2 = _despike(
        norm,
        steps,
        udg_col=udg_col,
        q_col=q_col,
        t=t,
        keys=[site_col],
        med_window_s=_MED_WINDOW_S,
        threshold=_SPIKE_THRESHOLD,
        ffill_limit=_FFILL_LIMIT,
    )

    ec_exprs = calibrate_ec(bounded, calibrations) if calibrations else {}
    level2 = bounded.drop(*cfg.remove_columns)
    level2 = level2.withColumns(ec_exprs) if ec_exprs else level2
    rename = build_l2_rename(
        [c for c in level2.columns if c != site_col], rename_mapping
    )
    level2 = rename_columns(level2, rename)

    # the left join is J2 as well: it keeps L1's instants, which are
    # unique per site, and drops the grid-only ones
    udg_l2_name = rename.get(udg_col, udg_col)
    level2 = level2.drop(udg_l2_name).join(
        udg_l2.select(site_col, t, F.col(udg_col).alias(udg_l2_name)),
        on=[site_col, t],
        how="left",
    )
    return level2.dropDuplicates()


def _after_install(udg: DataFrame, install_date, udg_col: str, t: str) -> DataFrame:
    """The non-null UDG readings at/after the install date (naive = UTC)."""
    cut = F.lit(_utc(_to_ts(install_date)))
    return udg.filter((F.col(t) >= cut) & F.col(udg_col).isNotNull())


def fleet_calc_depth_tdr(
    udg: DataFrame,
    install_date,
    install_depth: float,
    *,
    site_col: str = "site",
    udg_col: str = "TCDT",
    t: str = TIME,
    out_col: str = "depth",
) -> DataFrame:
    """W8 — time-varying TDR burial depth with melt-out ratchet
    (``fs_pp.py:611-644``), for N stations in one pass.

    Reference semantics: normalize UDG to its first reading at/after the
    install date, then walk the series with a mutable offset that resets
    when the sensor melts out. Here the per-site normalization constant is
    a ``first`` window over (site, time) — no action, no per-site loop —
    and the walk is the verified closed form (SURVEY §2.7 W8)
    ``D_t = min(0, u_t - max(-d0, cummax(u)_t))``, one running-max window
    partitioned by site. Shared install date/depth (the common fleet
    deployment); per-site installs would join a site->install dim first.

    Returns ``(site_col, t, out_col)`` from the install date onward.
    """
    from pyspark.sql import Window as _W

    after = _after_install(udg, install_date, udg_col, t)
    w = (
        _W.partitionBy(site_col)
        .orderBy(t)
        .rowsBetween(_W.unboundedPreceding, _W.unboundedFollowing)
    )
    norm = after.select(
        site_col,
        t,
        (F.col(udg_col) - F.first(udg_col).over(w)).alias("__u"),
    )
    return norm.select(
        site_col,
        t,
        ratchet_depth(
            "__u", t, float(install_depth), partition_by=[site_col]
        ).alias(out_col),
    )


# --------------------------------------------------------------------------- #
# EC calibration
# --------------------------------------------------------------------------- #


def calibrate_ec(
    l1: DataFrame,
    calibrations: dict[str, tuple[float, float]],
    *,
    ec_pattern: str = r"EC\([0-9]+\)",
    transform: bool = True,
) -> dict[str, F.Column]:
    """J1 (wide form) — per-sensor linear calibration ``m*(1-x)+c`` with
    fallback to the mean coefficients on a missing sensor
    (``fs_pp.py:570-608``).

    ``calibrations``: ``{column_name: (m, c)}`` — a broadcast-sized dim
    (<=16 sensors/chain) folded into literal column expressions: zero
    shuffle, fully codegen'd. The long-form broadcast-join variant is
    ``operators.joins.calibration_group_mean`` (used by the oracle-checked
    ``j1_calibration_fallback`` query).

    Returns ``{column: calibrated expr}`` for ``withColumns``.
    """
    import re

    pat = re.compile(ec_pattern)
    avg_m = sum(m for m, _ in calibrations.values()) / len(calibrations)
    avg_c = sum(c for _, c in calibrations.values()) / len(calibrations)
    out: dict[str, F.Column] = {}
    for col in l1.columns:
        if not pat.fullmatch(col):
            continue
        m, c = calibrations.get(col, (avg_m, avg_c))
        x = (F.lit(1.0) - F.col(col)) if transform else F.col(col)
        out[col] = F.lit(float(m)) * x + F.lit(float(c))
    return out


def _csv_header(spark: SparkSession, path: str) -> list[str]:
    """The names on a CSV's header line, read on the driver: the file
    itself, or the first part file of a local sink directory; any other
    path goes through Spark (:func:`~cassandra_fs_pp_spark.sources.toa5._head_lines`)."""
    head = path
    if os.path.isdir(path):
        parts = sorted(f for f in os.listdir(path) if not f.startswith(("_", ".")))
        if parts:
            head = os.path.join(path, parts[0])
    lines = _head_lines(head, 1, spark)
    names = next(csv.reader([lines[0].rstrip("\r\n")])) if lines else []
    if not names:
        raise ValueError(f"{path}: no CSV header line")
    return names


def load_level1_csv(
    spark: SparkSession, path: str, *, t: str = TIME
) -> DataFrame:
    """S4 — re-read a CSV the engine wrote, L1 or L2 (``fs_pp.py:168-183``):
    header row, timestamp index column parsed.

    The types are declared, not inferred, so the read runs no Spark job:
    the names come from the header line (:func:`_csv_header`) and every
    column takes the TOA5 rule of :func:`~cassandra_fs_pp_spark.sources.toa5.toa5_schema_ddl`:
    ``t`` timestamp, ``RECORD`` and ``Q`` long, the rest double. On the
    engine's own L1/L2 CSVs that is what ``inferSchema`` gives, except
    that it reads ``RECORD`` and ``Q`` as int; any other integer column
    (``_seq`` of ``level0_to_level1(keep_provenance=True)``) is widened
    to double. The parse is FAILFAST: a value that is not a number (or,
    in ``t``, not a ``yyyy-MM-dd HH:mm:ss`` time) raises when the frame
    is read, instead of turning NULL."""
    return spark.read.csv(
        path,
        schema=toa5_schema_ddl(_csv_header(spark, path), t),
        header=True,
        mode="FAILFAST",
        nullValue="",
        timestampFormat="yyyy-MM-dd HH:mm:ss",
    )


def load_position_csv(spark: SparkSession, path: str) -> list[float]:
    """S7 — 1-column position CSV -> driver-side vector (the reference's
    ``pd.read_csv(...).squeeze()``, ``bin/fs_process_l2.py:151``)."""
    df = spark.read.csv(path, header=True, inferSchema=True)
    col = df.columns[-1]
    return [float(r[col]) for r in df.collect()]


def load_calibrations(spark: SparkSession, path: str) -> dict[str, tuple[float, float]]:
    """S5 — calibration-coefficients scan: CSV ``(sensor, m, c, r2)`` ->
    driver dict (broadcast-sized dim; ``fs_pp.py:597-603``).

    The sensor is the first column; ``m`` and ``c`` are found by their
    header names, in any order, and a header without exactly one of each
    raises ``ValueError``. Declared types, FAILFAST parse: one Spark job,
    the collect."""
    names = _csv_header(spark, path)
    for need in ("m", "c"):
        if names[1:].count(need) != 1:
            raise ValueError(
                f"{path}: calibration header {names} needs one {need!r} column"
            )
    fields = ["`_c0` string"] + [
        f"`{n}` double" if n in ("m", "c") else f"`_c{i}` string"
        for i, n in enumerate(names[1:], 1)
    ]
    rows = (
        spark.read.csv(path, header=True, mode="FAILFAST", schema=", ".join(fields))
        .select(F.col("_c0").alias("sensor"), "m", "c")
        .collect()
    )
    return {r["sensor"]: (float(r["m"]), float(r["c"])) for r in rows}


# --------------------------------------------------------------------------- #
# Level-1 -> Level-2
# --------------------------------------------------------------------------- #


def level1_to_level2(
    l1: DataFrame,
    cfg: SiteConfig,
    calibrations: dict[str, tuple[float, float]] | None = None,
    *,
    valid_ranges: dict[str, tuple[float, float]] = DEFAULT_VALID_RANGES,
    rename_mapping: Sequence[tuple[str, str]] = DEFAULT_L2_RENAME,
    t: str = TIME,
) -> DataFrame:
    """L1 -> L2 for one station (``fs_pp.py:263-299``):
    :func:`fleet_level1_to_level2` over a one-site fleet."""
    l2 = fleet_level1_to_level2(
        l1.withColumn(_SITE, F.lit(cfg.site)),
        cfg,
        {cfg.site: cfg.udg_height_changes},
        calibrations,
        site_col=_SITE,
        valid_ranges=valid_ranges,
        rename_mapping=rename_mapping,
        t=t,
    )
    return l2.drop(_SITE)


# --------------------------------------------------------------------------- #
# Depth products (R3 + W8)
# --------------------------------------------------------------------------- #


def chain_installation_depths(
    positions_mm: Sequence[float], first_sensor: int, depth: float
) -> dict[int, float]:
    """R3 ⊙ — chain geometry -> per-sensor install depth (``fs_pp.py:427-449``).

    ``positions_mm``: positive millimetres along the chain (S6/S7 output).
    ``first_sensor``: 1-based id of the sensor whose depth was measured.
    ``depth``: that sensor's depth, negative below surface, metres.

    Driver-side (chain length <= dozens); emits the sensor dimension table
    joined against long-form chain data (J6).
    """
    metres = [p * 1e-3 * -1 for p in positions_mm]
    ref = metres[first_sensor - 1]
    return {i + 1: m - ref + depth for i, m in enumerate(metres)}


def calc_depth_tdr(
    udg: DataFrame,
    install_date,
    install_depth: float,
    *,
    udg_col: str = "TCDT",
    t: str = TIME,
    out_col: str = "depth",
) -> DataFrame:
    """W8 for one station: :func:`fleet_calc_depth_tdr` over a one-site
    fleet. ``udg`` is a ``(t, udg_col)`` series (typically L2-filtered);
    returns ``(t, out_col)`` from the install date onward."""
    if _after_install(udg, install_date, udg_col, t).isEmpty():
        raise ValueError(
            f"no UDG data at/after install date {_to_ts(install_date)}"
        )
    depth = fleet_calc_depth_tdr(
        udg.withColumn(_SITE, F.lit("")),
        install_date,
        install_depth,
        site_col=_SITE,
        udg_col=udg_col,
        t=t,
        out_col=out_col,
    )
    return depth.drop(_SITE)
