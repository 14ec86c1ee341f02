"""Guards for Spark's compiled-class cache and for conf the session layer
could not apply.

Spark compiles every generated class with Janino and keeps it in one
JVM-global LRU cache (``spark.sql.codegen.cache.maxEntries``).  At the
default 100 entries a pass that generates more classes than that evicts
each one before its next use and recompiles all of them on every pass;
``session.CODEGEN_CACHE_ENTRIES`` sizes the cache to the engine's working
set.
"""

from __future__ import annotations

import logging
import os
from functools import reduce

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql.conf import RuntimeConfig

from cassandra_fs_pp_spark import session
from cassandra_fs_pp_spark.session import (
    CODEGEN_CACHE_CONF,
    CODEGEN_CACHE_ENTRIES,
    get_spark,
    tune,
)

SPARK_DEFAULT_ENTRIES = 100


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _field(obj, name):
    k = obj.getClass()
    while k is not None:
        try:
            f = k.getDeclaredField(name)
        except Py4JJavaError:
            k = k.getSuperclass()
            continue
        f.setAccessible(True)
        return f.get(obj)
    raise AttributeError(name)


def _cache_capacity(spark) -> int:
    """Capacity of the JVM's compiled-class cache itself, not the conf:
    ``CodeGenerator.cache`` wraps a Guava cache whose ``maxWeight`` is the
    entry count it was built with."""
    gen = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    f = gen.getDeclaredField("cache")
    f.setAccessible(True)
    guava = _field(f.get(None), "cache")
    return int(_field(_field(guava, "localCache"), "maxWeight"))


def test_session_cache_size_is_engine_constant(spark):
    spark.range(3).selectExpr("sum(id)").collect()  # the cache exists now
    assert spark.conf.get(CODEGEN_CACHE_CONF) == str(CODEGEN_CACHE_ENTRIES)
    assert _cache_capacity(spark) == CODEGEN_CACHE_ENTRIES


def test_pass_larger_than_default_cache_recompiles_nothing(spark):
    """One job over 60 union branches, each with its own literal, generates
    120 distinct classes: more than Spark's default cache holds, so at the
    default size the second run would compile every one of them again."""

    def frame():
        branches = [
            spark.range(2).selectExpr(f"id * {k} + 1000003 AS v") for k in range(60)
        ]
        return reduce(lambda a, b: a.unionAll(b), branches)

    c0 = _compiles(spark)
    frame().write.format("noop").mode("overwrite").save()
    c1 = _compiles(spark)
    frame().write.format("noop").mode("overwrite").save()
    assert c1 - c0 > SPARK_DEFAULT_ENTRIES
    assert _compiles(spark) - c1 == 0


def test_registry_query_rerun_compiles_nothing(spark, sf_dir):
    """A registry query run twice back to back compiles no class the second
    time.  (``fleet_udg_filter`` is not used here: its plans differ from run
    to run in join nullability and codegen stage ids, so its reruns compile
    a few new classes whatever the cache size.)"""
    import __spark_entry__ as entry

    q = entry.queries()["flagship_events_hourly"]
    q(spark, sf_dir).write.format("noop").mode("overwrite").save()
    c0 = _compiles(spark)
    q(spark, sf_dir).write.format("noop").mode("overwrite").save()
    assert _compiles(spark) - c0 == 0


def test_tune_logs_conf_it_could_not_set(spark, monkeypatch, caplog):
    # a static conf cannot be set on a running session
    monkeypatch.setitem(session.RUNTIME_CONF, CODEGEN_CACHE_CONF, "64")
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        tune(spark)
    hits = [r for r in caplog.records if CODEGEN_CACHE_CONF in r.getMessage()]
    assert len(hits) == 1, caplog.text
    assert spark.conf.get(CODEGEN_CACHE_CONF) == str(CODEGEN_CACHE_ENTRIES)


def test_tune_propagates_errors_that_are_not_conf_refusals(spark, monkeypatch):
    # only a PySparkException (the session refusing a key or value) is
    # logged and skipped; any other failure of conf.set is a bug
    def boom(self, key, value):
        raise RuntimeError(f"boom {key}")

    monkeypatch.setattr(RuntimeConfig, "set", boom)
    with pytest.raises(RuntimeError, match="boom"):
        tune(spark)


def test_get_spark_warns_on_existing_session_with_other_cache_size(
    spark, monkeypatch, caplog
):
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        again = get_spark("tests", master="local[4]", shuffle_partitions=4)
    assert again.conf.get(CODEGEN_CACHE_CONF) == str(CODEGEN_CACHE_ENTRIES)
    assert CODEGEN_CACHE_CONF not in caplog.text

    monkeypatch.setattr(session, "CODEGEN_CACHE_ENTRIES", 2 * CODEGEN_CACHE_ENTRIES)
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        again = get_spark("tests", master="local[4]", shuffle_partitions=4)
    # getOrCreate() handed back the running session and dropped the conf
    assert again.conf.get(CODEGEN_CACHE_CONF) == str(CODEGEN_CACHE_ENTRIES)
    warned = [r for r in caplog.records if CODEGEN_CACHE_CONF in r.getMessage()]
    assert len(warned) == 1, caplog.text
    assert str(CODEGEN_CACHE_ENTRIES) in warned[0].getMessage()


def test_local_master_defaults_to_usable_cores(monkeypatch):
    """Without ``SPARK_GRAFT_CPUS`` the session runs one task slot per
    core this process may use (not a fixed 32, which on a small host
    pays a Python worker round trip per surplus slot)."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session._local_master() == f"local[{len(os.sched_getaffinity(0))}]"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session._local_master() == "local[3]"
