"""Skew mitigation for hot-key joins (100 TB design stance).

AQE's skew-join splitting (enabled in session.tune) handles sort-merge skew
at runtime; this module adds the complementary *salting* pattern for the
shapes AQE can't fix — a broadcast-infeasible dim joined on a key where a
handful of values dominate (the classic "null key / mega-tenant" problem):

* the BIG side scatters each hot key across ``salt_n`` sub-keys with a
  deterministic hash of the whole row (no rand() — keeps plans replayable
  and tests exact);
* the SMALL side replicates each row ``salt_n`` times (explode of a literal
  range — tiny, it's the dim side);
* the join key becomes ``(key, salt)`` so one hot key spreads over
  ``salt_n`` shuffle partitions instead of one straggler task.

Result set is EXACTLY the plain join's (verified in tests) — salting only
changes the physical key distribution.
"""

from __future__ import annotations

import logging
import re
from collections.abc import Sequence

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT = "__salt"

log = logging.getLogger(__name__)

# A repartition node (Repartition, RepartitionByExpression) at the start
# of a line of a logical plan's tree string, after the tree-drawing
# prefix.  A column or alias whose name merely contains the word sits
# inside a node's argument list instead.
_REPARTITION_NODE = re.compile(r"^[ :+|-]*Repartition\w*\b", re.M)

_BYTE_SUFFIXES = {
    "tb": 1 << 40, "gb": 1 << 30, "mb": 1 << 20, "kb": 1 << 10,
    "t": 1 << 40, "g": 1 << 30, "m": 1 << 20, "k": 1 << 10, "b": 1,
}


def _bytes_conf(value: str, default: int = 134217728) -> int:
    """Spark size confs arrive as '134217728b' / '128MB' / '128m'."""
    s = str(value).strip().lower()
    for suf in sorted(_BYTE_SUFFIXES, key=len, reverse=True):
        if s.endswith(suf) and s[: -len(suf)].strip().isdigit():
            return int(s[: -len(suf)].strip()) * _BYTE_SUFFIXES[suf]
    return int(s) if s.isdigit() else default


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    *,
    how: str = "inner",
    salt_n: int = 16,
) -> DataFrame:
    """Equi-join with the small side replicated over ``salt_n`` salts.

    ``how``: inner/left supported (the salting pattern's home turf — the
    replicated side must be the lookup side). Result equals
    ``big.join(small, on, how)`` with the same columns.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner'|'left'")
    on = list(on)
    # deterministic scatter: hash every HASHABLE big-side column so
    # identical rows still spread (xxhash64 is a stable JVM-side hash;
    # MapType columns are unhashable and would fail analysis — skip them)
    hashable = [c for c, d in big.dtypes if not d.startswith("map<")]
    if not hashable:
        raise ValueError("salted_join: no hashable columns on the big side")
    big_s = big.withColumn(
        SALT, F.pmod(F.xxhash64(*[F.col(c) for c in hashable]), F.lit(salt_n))
    )
    small_s = small.withColumn(
        SALT,
        F.explode(F.array([F.lit(i).cast("long") for i in range(salt_n)])),
    )
    return big_s.join(small_s, on=on + [SALT], how=how).drop(SALT)


def spread_if_narrow(df: DataFrame, n_parts: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the input plans fewer splits
    than the cluster's parallelism (r17; probe unified r18 — VERDICT r17
    item 9).  The engine's one scan-spread guard: ``__spark_entry__._t``
    applies it to the documents/embeddings scans.

    The guard for small unsplittable inputs feeding CPU-bound stages: a
    bench-scale table arrives as one parquet split and would run its
    per-row compute single-task, while a production-sized scan already
    has >= cores splits and passes through with NO exchange.

    The narrowness probe is the optimizer's size statistic against
    ``spark.sql.files.maxPartitionBytes`` — NOT
    ``df.rdd.getNumPartitions()``, which converts the whole plan to an
    RDD per call.  An input that already carries a user
    repartition node anywhere in its lineage passes through
    untouched (its parallelism was chosen deliberately; re-spreading
    would stack a second exchange).  Like the r17 probe this sees only
    the pre-AQE plan, so it cannot fix runtime coalescing of
    post-shuffle stages — pin those with an explicit
    ``repartition(n, key)`` instead (AQE never coalesces a
    user-specified partition count).  If the plan cannot be sized (a
    ``Py4JError`` from the JVM calls, or a ``ValueError`` from the size
    conf), the input is returned as-is and the reason is logged; any
    other exception propagates."""
    spark = df.sparkSession
    if n_parts is None:
        n_parts = spark.sparkContext.defaultParallelism
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        if _REPARTITION_NODE.search(plan.toString()):
            return df
        size = int(plan.stats().sizeInBytes())
        maxpb = _bytes_conf(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        )
    except (Py4JError, ValueError) as exc:
        log.warning(
            "spread_if_narrow: could not size the plan (%s); not spreading",
            exc, exc_info=True,
        )
        return df
    planned_splits = max(1, (size + maxpb - 1) // maxpb)
    if planned_splits < n_parts:
        df = df.repartition(n_parts)
    return df
