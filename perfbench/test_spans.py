"""The event-log parser, on a tiny log its own test produces.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os

import pytest

from spans import (Mark, Span, Tracer, cpu_s, mark, parse_event_log, span_costs,
                   union_length, unstolen_wall_s)


def test_union_length():
    assert union_length([], 0, 10) == 0
    assert union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert union_length([(-5, 2), (9, 20)], 0, 10) == 3


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    from pyspark.sql import SparkSession

    log_dir = tmp_path_factory.mktemp("eventlog")
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("test_spans")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    tr = Tracer(spark)
    with tr.span("scan"):
        spark.range(10_000).selectExpr("id * 2 AS x").write.format("noop").mode("overwrite").save()
    with tr.span("shuffle"):
        spark.range(1_000).repartition(3).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    with tr.span("driver_only"):
        sum(range(100_000))
    spark.stop()
    (log,) = os.listdir(log_dir)
    return tr.spans, parse_event_log(os.path.join(log_dir, log))


def test_jobs_land_in_their_span(traced):
    spans, groups = traced
    costs = span_costs(spans, groups)
    assert costs[(0, "scan")].jobs >= 1
    assert costs[(0, "shuffle")].jobs >= 1
    assert costs[(0, "driver_only")].jobs == 0
    assert costs[(0, "shuffle")].shuffle_mb > 0
    assert costs[(0, "scan")].shuffle_mb == 0


def test_costs_reconcile_with_span_walls(traced):
    spans, groups = traced
    for s in spans:
        c = span_costs([s], groups)[(0, s.name)]
        assert 0 <= c.driver_gap_s <= c.wall_s == pytest.approx(s.wall)
        assert c.exec_run_s >= 0 and c.exec_cpu_s >= 0
        jobs = groups[s.group].jobs if s.group in groups else []
        for start, end in jobs:
            assert s.start.t - 0.05 <= start <= end <= s.end.t + 0.05


def test_span_costs_sum_per_pass():
    a = Span("x", 1, "g1", Mark(0.0, 0, 0, 0), Mark(1.0, 0, 0, 0))
    b = Span("x", 1, "g2", Mark(2.0, 0, 0, 0), Mark(2.5, 0, 0, 0))
    costs = span_costs([a, b], {})
    assert costs[(1, "x")].wall_s == pytest.approx(1.5)
    assert costs[(1, "x")].driver_gap_s == pytest.approx(1.5)


def test_unstolen_wall_takes_out_the_stolen_share():
    assert unstolen_wall_s(Mark(0.0, 0, 0, 0), Mark(10.0, 0, 300, 100)) == pytest.approx(7.5)
    assert unstolen_wall_s(Mark(0.0, 0, 5, 5), Mark(2.0, 0, 5, 5)) == pytest.approx(2.0)


def test_cpu_counts_reaped_children():
    import subprocess
    import sys

    a = mark()
    subprocess.run([sys.executable, "-c", "sum(i * i for i in range(3_000_000))"], check=True)
    assert cpu_s(a, mark()) > 0.05
