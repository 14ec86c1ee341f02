"""SparkSession construction and runtime tuning.

The reference is a single-process pandas pipeline with no notion of a session
(`cassandra_fs_pp/fs_pp.py` is eager module-level code); here the session IS
the engine handle. Two entry points:

* :func:`get_spark` — build a tuned local session (tests / bench / CLI).
* :func:`tune` — apply runtime-settable conf to an EXISTING session (the
  correctness driver owns its own session; every public query calls this
  defensively so semantics don't depend on who built the session).

Python workers: the Arrow and pandas kernels pickle references to this
package's modules, so every Python worker must import
``cassandra_fs_pp_spark``.  Without help a worker finds it only through
its current directory, which on a cluster executor (or a driver started
outside the repo root) fails with ``ModuleNotFoundError``.  :func:`tune`
therefore zips the package once per SparkContext and ships it with
``addPyFile`` (:func:`_ship_package`).

Scale notes (100 TB design stance):
* ``spark.sql.session.timeZone=UTC`` pins naive-timestamp semantics to match
  the reference's tz-naive indexes (SURVEY §1.2) and DuckDB's UTC-naive
  timestamps for oracle comparison.
* AQE on: runtime partition coalescing + skew-join splitting replace any
  hand-tuned shuffle sizing when data volume jumps 1000x.
* shuffle partitions default to cluster parallelism locally; on a real
  cluster AQE's coalescing makes the initial number mostly a ceiling.

Codegen cache: every whole-stage-codegen class Spark generates is compiled
by Janino, then JIT-compiled, and kept in one JVM-global LRU cache keyed by
its source text (``spark.sql.codegen.cache.maxEntries``, default 100).  One
pass of the engine's work generates more classes than that: about 130 for
the one-station L0->L1->L2 pipeline, 190 for a four-station fleet, 250 for
one query per registry family and about 1,040 for ``bench.HEADLINE`` plus
``DIAGNOSTICS`` at sf0.1 (distinct classes over two passes, counted with
an unbounded cache).  With 100 entries the LRU evicts every class before
its next use, so a repeated pass recompiles all of them.
:data:`CODEGEN_CACHE_ENTRIES` sizes the cache to hold that working set.
The conf is static: it only takes effect when the session (and, for the
cache itself, the JVM) is built, so :func:`tune` cannot apply it to a
foreign session and :func:`get_spark` warns when ``getOrCreate()`` hands
back an existing session built with another size.
"""

from __future__ import annotations

import atexit
import logging
import os
import shutil
import tempfile
import zipfile

from pyspark.errors import PySparkException
from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

# Entries in Spark's compiled-class cache: the smallest power of two at
# least twice the largest working set above (bench.HEADLINE + DIAGNOSTICS
# at sf0.1), so the suite still fits when it grows or runs at another scale.
CODEGEN_CACHE_ENTRIES = 4096
CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"

# Runtime-settable (SQLConf) knobs — safe to apply to a foreign session.
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE re-optimize (coalesce/skew-split) stages that sit under a
    # cached plan.  Default false pins a persisted intermediate's full
    # shuffle fan-out forever, so every pass over a small cached table
    # (logreg GD rounds, staged pipelines) pays shuffle-partition-count
    # task launches; with AQE sizing by bytes this stays a no-op once
    # partitions are production-sized.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # r18 (VERDICT r17 item 4): the r17 shuffled-hash-join confs
    # (preferSortMergeJoin=false + maxShuffledHashJoinLocalMapThreshold)
    # are REMOVED as dead knobs — AQE FINAL executed plans
    # (isFinalPlan=true, plans/r18/*_aqe_final.txt) show ZERO
    # ShuffledHashJoin across the join-heavy suite (fleet_udg_filter's
    # three SMJs stay SMJ at runtime), so the conf never fired and its
    # claimed r17 win was not attributable to it; the static flip also
    # carried ADVICE r17's OOM concern (static SHJ picks trust planner
    # estimates and cannot fall back to sort).  lsh_topk's explicit
    # shuffle_hash HINTS are unaffected (hints bypass the preference).
    # Arrow for any pandas_udf / toPandas interop (multimodal + similarity).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Bound Arrow batch size so mapInPandas over fat binary payloads
    # (multimodal media) can't assemble multi-GB batches per executor.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # Keep timestamp parquet reads stable across writers.
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
}


def tune(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply engine runtime conf to an existing session (idempotent).

    A key the session refuses — a static conf on a running session
    (``AnalysisException``) or a value it rejects
    (``IllegalArgumentException``) — is logged as a warning and skipped;
    any other error propagates."""
    conf = dict(RUNTIME_CONF)
    if shuffle_partitions is None:
        shuffle_partitions = spark.sparkContext.defaultParallelism
    if shuffle_partitions:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    for key, value in conf.items():
        try:
            spark.conf.set(key, value)
        except PySparkException as exc:
            log.warning("tune: could not set %s=%s: %s", key, value, exc)
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Zip this package's ``.py`` files and ``addPyFile`` the zip, once per
    SparkContext, so Python workers import the driver's code from any
    working directory and on any executor.  The zip lives in a temporary
    directory removed when the driver process exits."""
    sc = spark.sparkContext
    if getattr(sc, "_package_zip", None):
        return
    pkg = os.path.dirname(os.path.abspath(__file__))
    tmp = tempfile.mkdtemp(prefix="cassandra_fs_pp_spark-")
    atexit.register(shutil.rmtree, tmp, True)
    path = os.path.join(tmp, "cassandra_fs_pp_spark.zip")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for d, dirs, files in os.walk(pkg):
            dirs[:] = [x for x in dirs if x != "__pycache__"]
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(d, f)
                    z.write(full, os.path.relpath(full, os.path.dirname(pkg)))
    sc.addPyFile(path)
    sc._package_zip = path


def local_table(spark: SparkSession, rows, schema: str):
    """Driver-resident rows -> DataFrame via the Arrow/pandas path.

    ``createDataFrame(list)`` builds a PICKLED-ROW RDD: every scan of the
    table (each broadcast build, each noop write) launches a
    defaultParallelism-wide job whose tasks spin Python workers just to
    unpickle a handful of rows — measured 850 ms per materialization for
    a 16-row codebook table at local[32], serialized per broadcast.  The
    pandas route plans a JVM ``LocalTableScan`` instead (~66 ms, no
    Python workers, and broadcast builds read it driver-side).  Values
    are bit-identical: int64/float64/strings/array<double> round-trip
    exactly through Arrow, and the explicit ``schema`` pins types on
    both routes.  Falls back to the plain path for empty inputs or when
    the pandas route rejects the shape (r17): a ``ValueError`` or
    ``TypeError``, which covers ``PySparkTypeError``/``PySparkValueError``
    and pyarrow's ``ArrowInvalid``/``ArrowTypeError``.  Most Arrow
    refusals never reach this handler: with
    ``spark.sql.execution.arrow.pyspark.fallback.enabled`` (Spark's
    default) ``createDataFrame(pdf)`` already retries them without Arrow
    and only warns.  Any other exception propagates.
    """
    # materialize first: the comprehension below iterates ``rows`` once
    # per COLUMN, so a generator input would exhaust on the first column
    # and silently build an empty frame before the fallback ever saw the
    # data (ADVICE r17)
    rows = list(rows)
    if rows:
        try:
            import pandas as pd

            cols = [f.split(None, 1)[0] for f in _split_ddl(schema)]
            pdf = pd.DataFrame(
                {c: [r[i] for r in rows] for i, c in enumerate(cols)}
            )
            return spark.createDataFrame(pdf, schema=schema)
        except (ValueError, TypeError) as exc:
            log.debug("local_table: Arrow route refused %s (%s); using pickled rows",
                      schema, exc)
    return spark.createDataFrame(rows, schema)


def _split_ddl(schema: str) -> list[str]:
    """Split a DDL column list on top-level commas (array<...> et al.
    contain commas of their own)."""
    out, depth, cur = [], 0, []
    for ch in schema:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return out


def _local_master() -> str:
    """``local[n]`` with ``n`` from ``SPARK_GRAFT_CPUS``, else the cores
    this process may run on: one task slot per core, so a Python kernel
    pass pays one worker round trip per core, not per default slot."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    return f"local[{cpus}]"


def get_spark(
    app_name: str = "cassandra_fs_pp_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned local session.

    Honors ``SPARK_GRAFT_CPUS`` for local core count (driver contract).
    Unset, it runs on every core this process may use.
    When a session already exists, ``getOrCreate()`` returns it and drops
    the static confs set here without a word; a codegen cache size other
    than :data:`CODEGEN_CACHE_ENTRIES` is logged as a warning.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or _local_master())
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config(CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_ENTRIES))
    )
    spark = builder.getOrCreate()
    have = spark.conf.get(CODEGEN_CACHE_CONF)
    if have != str(CODEGEN_CACHE_ENTRIES):
        log.warning(
            "get_spark: reusing a session whose %s is %s, not %d; every "
            "generated class past that many is recompiled on each pass",
            CODEGEN_CACHE_CONF, have, CODEGEN_CACHE_ENTRIES,
        )
    return tune(spark, shuffle_partitions)
