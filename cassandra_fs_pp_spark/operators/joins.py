"""Join/alignment operators (SURVEY §2.4).

* J1 calibration lookup join with fallback-to-mean — the reference looks up
  per-sensor ``(m, c)`` by column name and falls back to the mean of all
  sensors' coefficients on a miss (``cassandra_fs_pp/fs_pp.py:584-594``),
  then applies ``ec = m*(1-x)+c``. Here: a BROADCAST left join of the long
  fact against the coefficient dim, with the fallback means cross-joined
  from a 1-row aggregate (also broadcast — no shuffle on the fact).
* J4 as-of lookup — "first/last record at or before/after t"
  (``cassandra_fs_pp/fs_pp.py:621-625, 507``). Spark has no native as-of
  join; the scalable shape here is the sort-based union trick: tag both
  sides, union on (key, time, side), carry the right side's values forward
  with a running ``last(ignorenulls)`` window, keep left rows. One shuffle,
  no per-group pandas, works at any key cardinality.
* J2/J3 series re-alignment / horizontal concat — plain equi-joins on time
  (``cassandra_fs_pp/fs_pp.py:566``, ``bin/fs_process_l2.py:113``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def calibration_join(
    fact: DataFrame,
    calib: DataFrame,
    *,
    key: str = "sensor_id",
    raw_col: str = "raw",
    m_col: str = "m",
    c_col: str = "c",
    out_col: str = "calibrated",
    mean_decimals: int = 6,
) -> DataFrame:
    """J1 — broadcast dim join + fallback-to-mean coalesce + linear transform.

    ``calibrated = coalesce(m, avg(m)) * (1 - raw) + coalesce(c, avg(c))``
    (the EC mV->uS transform, cassandra_fs_pp/fs_pp.py:593-594).

    The fallback means accumulate in EXACT fixed point — each coefficient
    is cast to ``DECIMAL(38, mean_decimals)`` (calibration coefficients
    are physically low-precision constants, so the cast is lossless at
    the default 6), summed exactly, and divided ONCE in IEEE double.
    A plain ``avg()`` of doubles is summation-order-dependent, so the
    mean — and every fallback row downstream of it — would vary with
    partition count, task order, and engine (the 8x-sweep residual: two
    per-sensor averages tied at the 6th decimal across engines).  The
    fixed-point sum makes the result bit-identical across partitionings
    and retries, which a 100 TB engine needs for reproducible reruns.
    Keep ``mean_decimals`` low: high-scale double->decimal casts are
    themselves engine-specific (binary-vs-decimal expansion rounding).
    """
    dec_t = f"decimal(38,{int(mean_decimals)})"
    means = calib.agg(
        (F.sum(F.col(m_col).cast(dec_t)).cast("double") / F.count(m_col)).alias(
            "__avg_m"
        ),
        (F.sum(F.col(c_col).cast(dec_t)).cast("double") / F.count(c_col)).alias(
            "__avg_c"
        ),
    )
    dim = calib.select(key, m_col, c_col)
    out = (
        fact.join(broadcast(dim), on=key, how="left")
        .join(broadcast(means), how="cross")
        .withColumn(
            out_col,
            (F.coalesce(F.col(m_col), F.col("__avg_m")) * (F.lit(1.0) - F.col(raw_col)))
            + F.coalesce(F.col(c_col), F.col("__avg_c")),
        )
        .drop(m_col, c_col, "__avg_m", "__avg_c")
    )
    return out


def calibration_group_mean(
    fact: DataFrame,
    calib: DataFrame,
    *,
    key: str = "sensor_id",
    raw_col: str = "raw",
    m_col: str = "m",
    c_col: str = "c",
    grid_decimals: int = 7,
    raw_decimals: int = 2,
    mean_decimals: int = 6,
    out_col: str = "avg_cal",
) -> DataFrame:
    """Per-``key`` mean of J1-calibrated values, computed in EXACT
    fixed-point algebra — the reproducible-aggregate form of
    :func:`calibration_join` + ``avg``.

    A double ``avg(calibrated)`` drifts with summation order: engine,
    partition count, and task schedule each reorder the sum, and the
    drift grows ~n·ulp with group size — at 8x two groups already tied
    at the 6th decimal across engines, and at 100 TB group sizes no
    rounding scale is safe.  This operator is partition-invariant:

    * hit rows: ``calibrated = m*(1-raw)+c`` lands on the
      ``grid_decimals`` grid (coefficient precision x raw precision), so
      a ``DECIMAL(38, grid_decimals)`` sum is exact;
    * miss rows: ``calibrated = avg_m*(1-raw)+avg_c`` — summed
      algebraically as ``avg_m*T + avg_c*n_miss`` where
      ``T = Σ(1-raw)`` is exact at ``raw_decimals``;
    * the fallback means come from the same exact fixed-point sums as
      :func:`calibration_join` (``mean_decimals``);
    * ONE final fixed IEEE expression per group:
      ``(s_hit + avg_m*T + avg_c*n_miss) / n``.

    Every intermediate is an exact decimal or a deterministic scalar op,
    so the result is bit-identical across engines and retries and safe
    to emit RAW (no round-tie class).

    NULL ``raw`` rows are excluded up front — matching
    ``avg(calibrated)``, which drops a NULL calibrated value from BOTH
    the numerator and the denominator.  (Without the filter a NULL raw
    would null ``cal_hit``/``t_miss`` — vanishing from the sums — while
    still counting toward ``n``/``n_miss``, deflating the mean.)
    """
    fact = fact.filter(F.col(raw_col).isNotNull())
    dec_t = f"decimal(38,{int(mean_decimals)})"
    means = calib.agg(
        (F.sum(F.col(m_col).cast(dec_t)).cast("double") / F.count(m_col)).alias(
            "__avg_m"
        ),
        (F.sum(F.col(c_col).cast(dec_t)).cast("double") / F.count(c_col)).alias(
            "__avg_c"
        ),
    )
    dim = calib.select(key, m_col, c_col)
    hit = F.col(m_col).isNotNull()
    cal_hit = (
        F.col(m_col) * (F.lit(1.0) - F.col(raw_col)) + F.col(c_col)
    ).cast(f"decimal(38,{int(grid_decimals)})")
    t_miss = (F.lit(1.0) - F.col(raw_col)).cast(f"decimal(38,{int(raw_decimals)})")
    g = (
        fact.join(broadcast(dim), on=key, how="left")
        .groupBy(key)
        .agg(
            F.sum(F.when(hit, cal_hit)).alias("__s_hit"),
            F.sum(F.when(~hit, t_miss)).alias("__t_miss"),
            F.count(F.when(~hit, F.lit(1))).alias("__n_miss"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return g.join(broadcast(means), how="cross").select(
        key,
        (
            (
                F.coalesce(F.col("__s_hit").cast("double"), F.lit(0.0))
                + F.col("__avg_m")
                * F.coalesce(F.col("__t_miss").cast("double"), F.lit(0.0))
                + F.col("__avg_c") * F.col("__n_miss")
            )
            / F.col("n")
        ).alias(out_col),
        "n",
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    by: Sequence[str] | None = None,
    value_cols: Sequence[str] | None = None,
    direction: str = "backward",
    tolerance_s: int | None = None,
    right_on: str | None = None,
    suffix: str = "_right",
) -> DataFrame:
    """J4 — as-of join: for each left row, the latest right row with
    ``right.time <= left.time`` (backward) or earliest with ``>=`` (forward),
    optionally per ``by`` key and within ``tolerance_s`` seconds.

    ``direction="nearest"`` picks whichever of the two is closer in time
    (ties go backward; an equal-timestamp right row counts as a backward
    match at distance 0). Still ONE shuffle: both carries are windows over
    the same sorted union, so Catalyst evaluates them in a single Sort +
    Window pass — no second exchange for the forward leg.

    Sort-based union implementation (one shuffle on ``by`` + sort):
    scalable alternative to per-group ``pd.merge_asof``.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError("direction must be 'backward', 'forward' or 'nearest'")
    by = list(by or [])
    right_on = right_on or on
    if value_cols is None:
        value_cols = [c for c in right.columns if c != right_on and c not in by]

    # Tag sides; right rows sort before left at equal timestamps for
    # backward-inclusive semantics (and after, for forward-inclusive).
    # "nearest" uses the backward layout: the equal-ts right row is the
    # backward candidate at distance 0, which wins every tie anyway.
    r_side, l_side = (0, 1) if direction in ("backward", "nearest") else (1, 0)
    r = right.select(
        *by,
        F.col(right_on).alias("__t"),
        F.lit(r_side).alias("__side"),
        F.col(right_on).alias("__matched_t"),
        *[F.col(c).alias(f"__v_{c}") for c in value_cols],
    )
    l_cols = left.columns
    l = left.select(
        *by,
        F.col(on).alias("__t"),
        F.lit(l_side).alias("__side"),
        F.lit(None).cast(r.schema["__matched_t"].dataType).alias("__matched_t"),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"__v_{c}")
            for c in value_cols
        ],
        *[F.col(c).alias(f"__l_{c}") for c in l_cols],
    )
    r = r.select(
        *by, "__t", "__side", "__matched_t",
        *[f"__v_{c}" for c in value_cols],
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}") for c in l_cols],
    )
    u = r.unionByName(l)

    base = Window.partitionBy(*by) if by else Window
    if direction == "nearest":
        wb = base.orderBy(F.col("__t").asc(), F.col("__side").asc()).rowsBetween(
            Window.unboundedPreceding, 0
        )
        wf = base.orderBy(F.col("__t").asc(), F.col("__side").asc()).rowsBetween(
            0, Window.unboundedFollowing
        )
        back = lambda c: F.last(c, ignorenulls=True).over(wb)  # noqa: E731
        fwd = lambda c: F.first(c, ignorenulls=True).over(wf)  # noqa: E731
        cand = u.select(
            *by,
            "__t",
            "__side",
            back(F.col("__matched_t")).alias("__mb_t"),
            fwd(F.col("__matched_t")).alias("__mf_t"),
            *[back(F.col(f"__v_{c}")).alias(f"__mb_{c}") for c in value_cols],
            *[fwd(F.col(f"__v_{c}")).alias(f"__mf_{c}") for c in value_cols],
            *[F.col(f"__l_{c}") for c in l_cols],
        ).filter(F.col("__side") == l_side)
        # Epoch-double gaps: TIMESTAMP_NTZ has no direct numeric cast
        # (route via TIMESTAMP; the session is pinned UTC), and the double
        # keeps sub-second precision exactly (µs fits the 52-bit mantissa).
        ep = lambda c: F.col(c).cast("timestamp").cast("double")  # noqa: E731
        gap_b = ep("__t") - ep("__mb_t")
        gap_f = ep("__mf_t") - ep("__t")
        b_ok = F.col("__mb_t").isNotNull()
        f_ok = F.col("__mf_t").isNotNull()
        if tolerance_s is not None:
            b_ok = b_ok & (gap_b <= int(tolerance_s))
            f_ok = f_ok & (gap_f <= int(tolerance_s))
        use_b = b_ok & (~f_ok | (gap_b <= gap_f))
        matched = cand.select(
            *by,
            "__t",
            F.when(use_b, F.col("__mb_t"))
            .when(f_ok, F.col("__mf_t"))
            .alias("__m_t"),
            *[
                F.when(use_b, F.col(f"__mb_{c}"))
                .when(f_ok, F.col(f"__mf_{c}"))
                .alias(f"__m_{c}")
                for c in value_cols
            ],
            *[F.col(f"__l_{c}") for c in l_cols],
        )
        out_names = {c: (c if c not in l_cols else c + suffix) for c in value_cols}
        return matched.select(
            *[F.col(f"__l_{c}").alias(c) for c in l_cols],
            *[F.col(f"__m_{c}").alias(out_names[c]) for c in value_cols],
        )

    if direction == "backward":
        w = base.orderBy(F.col("__t").asc(), F.col("__side").asc()).rowsBetween(
            Window.unboundedPreceding, 0
        )
        carry = lambda c: F.last(c, ignorenulls=True).over(w)  # noqa: E731
    else:
        w = base.orderBy(F.col("__t").asc(), F.col("__side").asc()).rowsBetween(
            0, Window.unboundedFollowing
        )
        carry = lambda c: F.first(c, ignorenulls=True).over(w)  # noqa: E731

    matched = u.select(
        *by,
        "__t",
        "__side",
        carry(F.col("__matched_t")).alias("__m_t"),
        *[carry(F.col(f"__v_{c}")).alias(f"__m_{c}") for c in value_cols],
        *[F.col(f"__l_{c}") for c in l_cols],
    ).filter(F.col("__side") == l_side)

    if tolerance_s is not None:
        gap = F.abs(
            F.col("__t").cast("timestamp").cast("double")
            - F.col("__m_t").cast("timestamp").cast("double")
        )
        keep = gap <= int(tolerance_s)
        matched = matched.select(
            *by, "__t",
            F.when(keep, F.col("__m_t")).alias("__m_t"),
            *[F.when(keep, F.col(f"__m_{c}")).alias(f"__m_{c}") for c in value_cols],
            *[F.col(f"__l_{c}") for c in l_cols],
        )

    out_names = {c: (c if c not in l_cols else c + suffix) for c in value_cols}
    return matched.select(
        *[F.col(f"__l_{c}").alias(c) for c in l_cols],
        *[F.col(f"__m_{c}").alias(out_names[c]) for c in value_cols],
    )


def upsert_snapshot(
    base: DataFrame,
    changes: DataFrame,
    key: str | list[str],
) -> DataFrame:
    """Keyed upsert (CDC MERGE semantics as a pure batch op): rows of
    ``changes`` replace same-key rows of ``base``; new keys append.

    Spark-first shape: one full-outer join on the key with per-column
    ``coalesce(change, base)`` — no MERGE statement or table format
    needed, and the result is a fresh immutable snapshot (the engine's
    storage philosophy: rewrite, don't mutate). At 100 TB: bucket/
    partition both sides by the key so the join co-locates, and rewrite
    only the partitions the change-set touches (changes are typically
    sparse — partition pruning on the change-set's key range).
    """
    keys = [key] if isinstance(key, str) else list(key)
    cols = base.columns
    if sorted(changes.columns) != sorted(cols):
        raise ValueError("changes must have the same columns as base")
    # full-ROW replace semantics via an explicit presence marker: a change
    # row that intentionally nulls a field still wins (per-column
    # coalesce would silently resurrect the base value)
    ch = changes.select(
        *[F.col(c).alias(f"__ch_{c}") for c in cols],
        F.lit(True).alias("__ch_present"),
    )
    cond = [F.col(k).eqNullSafe(F.col(f"__ch_{k}")) for k in keys]
    joined = base.join(ch, cond, "full_outer")
    present = F.col("__ch_present").isNotNull()
    return joined.select(
        *[
            F.when(present, F.col(f"__ch_{c}")).otherwise(F.col(c)).alias(c)
            for c in cols
        ]
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    *,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    bucket_s: int = 3600,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Interval-overlap (range) join without a cross product.

    Spark has no native range join; the naive
    ``l.join(r, l.start <= r.end & r.start <= l.end)`` plans as a
    BroadcastNestedLoopJoin — O(|L|·|R|) comparisons, a 100 TB
    non-starter.  This is the standard bucketized formulation instead:

    * each interval explodes into the fixed-width time buckets it covers
      (``sequence(floor(start/w), floor(end/w))``);
    * the join is an EQUI-join on (keys…, bucket) — one hash shuffle,
      co-partitioned, AQE/skew-eligible like any other equi-join;
    * a pair overlapping several buckets would match once per shared
      bucket, so the join keeps only the bucket containing
      ``greatest(l_start, r_start)`` — each true pair survives EXACTLY
      once, no ``distinct`` pass needed;
    * the exact overlap predicate filters residual same-bucket misses.

    Shuffle volume is rows × avg buckets-per-interval: pick ``bucket_s``
    near the typical interval length (the classic ≤2-buckets-per-row
    sweet spot).  ``keys`` adds equality predicates (site, user…) that
    both partition the shuffle and cut candidates."""
    w = int(bucket_s)
    ls, le = F.col(l_start), F.col(l_end)
    rs, re_ = F.col(r_start), F.col(r_end)
    lb = F.explode(
        F.sequence(
            F.floor(F.unix_timestamp(ls) / w), F.floor(F.unix_timestamp(le) / w)
        )
    ).alias("__bucket")
    rb = F.explode(
        F.sequence(
            F.floor(F.unix_timestamp(rs) / w), F.floor(F.unix_timestamp(re_) / w)
        )
    ).alias("__bucket")
    lx = left.select("*", lb).alias("__l")
    rx = right.select("*", rb).alias("__r")
    lc = lambda c: F.col(f"__l.{c}")
    rc = lambda c: F.col(f"__r.{c}")
    on = [lc("__bucket") == rc("__bucket")] + [lc(k) == rc(k) for k in keys]
    anchor = F.floor(
        F.greatest(F.unix_timestamp(lc(l_start)), F.unix_timestamp(rc(r_start)))
        / w
    )
    overlap = (lc(l_start) <= rc(r_end)) & (rc(r_start) <= lc(l_end))
    out = lx.join(rx, on).filter((lc("__bucket") == anchor) & overlap)
    for k in keys:
        out = out.drop(rc(k))
    return out.drop(lc("__bucket")).drop(rc("__bucket"))


def bloom_semi_join(
    big: DataFrame,
    small: DataFrame,
    big_col: str,
    small_col: str,
    *,
    m_bits: int = 1 << 16,
    k: int = 3,
) -> DataFrame:
    """Semi join ``big ⋉ small`` with a Bloom-filter pre-filter on the big
    side — EXACT result (the final hash semi-join removes the bloom's
    false positives); the bloom only cuts the big side's shuffle volume.

    The pattern a 100 TB engine needs when the probe side is huge and the
    build side is selective-but-not-broadcastable: the filter is a single
    aggregated bitmap row (``m_bits/64`` longs, e.g. 8 KiB at 2^16 bits)
    cross-joined (broadcast, 1 row) against the big side; rows failing any
    of the ``k`` membership probes never reach the join's Exchange.  Spark
    has a runtime bloom-join optimization of its own; this form makes the
    pre-filter explicit, deterministic (md5-based hash60), and available
    to any plan shape.

    False-positive rate ~ (1 - e^(-k*n/m))^k: 2^16 bits / k=3 holds ~6500
    keys at <1% — size ``m_bits`` to the build side's distinct count.
    """
    from cassandra_fs_pp_spark.functions.text import hash60

    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    n_words = m_bits // 64

    def positions(col: Column) -> list[Column]:
        return [
            F.pmod(hash60(F.concat(F.lit(f"bloom{i}:"), col.cast("string"))),
                   F.lit(m_bits))
            for i in range(k)
        ]

    # Build: one bitmap row.  Per-row positions -> collect into a set of
    # bit indices per partition via explode+distinct (the agg shuffles
    # O(distinct positions) <= m_bits ints), then fold into the bitmap.
    pos = (
        small.select(F.explode(F.array(*positions(F.col(small_col)))).alias("__p"))
        .distinct()
    )
    # SQL-expr fold: the DSL's shiftleft takes only literal shift counts;
    # the SQL form accepts a column, which the per-position fold needs.
    bitmap = pos.agg(
        F.expr(
            f"aggregate(collect_list(__p), array_repeat(0L, {n_words}),"
            " (acc, p) -> transform(acc, (word, wi) ->"
            "   IF(wi = cast(p / 64 AS int),"
            "      word | shiftleft(1L, cast(p % 64 AS int)), word)))"
        ).alias("__bloom")
    )

    probed = big.join(F.broadcast(bitmap))  # 1-row cross join, broadcast
    all_set = None
    for i, p in enumerate(positions(F.col(big_col))):
        probed = probed.withColumn(f"__h{i}", p)
        test = F.expr(
            f"(element_at(__bloom, cast(__h{i} / 64 AS int) + 1)"
            f" & shiftleft(1L, cast(__h{i} % 64 AS int))) != 0"
        )
        all_set = test if all_set is None else (all_set & test)
    passed = probed.filter(all_set).drop(
        "__bloom", *[f"__h{i}" for i in range(k)]
    )
    # Exact semi join over the pre-filtered (much smaller) big side.
    keys = small.select(F.col(small_col).alias("__k")).distinct()
    return passed.join(
        keys, on=passed[big_col] == keys["__k"], how="leftsemi"
    )


def merge_changes(
    base: DataFrame,
    changes: DataFrame,
    key: str,
    op_col: str = "op",
) -> DataFrame:
    """MERGE-style CDC apply: ``changes`` rows carry ``op_col`` in
    {'U','I','D'} — upserts (U/I, full-row replace) and deletes (D).
    Columns of ``changes`` minus ``op_col`` must equal ``base``'s.

    Same two-hash-join shape as :func:`upsert_snapshot` (anti join on
    the touched keys + union of surviving upserts): at scale this is the
    partition-pruned rewrite path, with deletes folded into the SAME
    anti join — touched = upserted ∪ deleted keys, one pass.
    """
    cols = [c for c in changes.columns if c != op_col]
    if set(cols) != set(base.columns):
        raise ValueError(
            f"changes columns {sorted(cols)} != base {sorted(base.columns)}"
        )
    touched = changes.select(F.col(key).alias("__k")).distinct()
    kept = base.join(touched, base[key] == touched["__k"], "left_anti")
    upserts = changes.filter(F.col(op_col) != "D").select(*base.columns)
    return kept.unionByName(upserts)
