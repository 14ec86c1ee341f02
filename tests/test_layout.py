"""Storage-layout behaviors the 100 TB story depends on: partition pruning
on partitioned parquet, and filter/column pushdown reaching the scan."""

from __future__ import annotations

from pyspark.sql import functions as F

from cassandra_fs_pp_spark.sinks import write_parquet
from cassandra_fs_pp_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_partition_pruning(spark, tmp_path):
    ev = load_table(spark, SF, "events").withColumn("day", F.to_date("ts"))
    out = str(tmp_path / "by_day")
    write_parquet(ev, out, partition_by=["day"])

    back = spark.read.parquet(out)
    one_day = back.filter(F.col("day") == "2024-01-15")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    # partition filter must prune at the source, not post-scan
    assert "PartitionFilters: [" in plan
    assert "isnotnull(day" in plan or "day" in plan.split("PartitionFilters")[1][:200]

    want = ev.filter(F.to_date("ts") == "2024-01-15").count()
    assert one_day.count() == want


def test_filter_and_column_pushdown(spark):
    ev = load_table(spark, SF, "events")
    q = ev.filter(F.col("user_id") == 7).select("event_id", "user_id")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "user_id" in plan.split("PushedFilters")[1][:120]
    # column pruning: props/value must not be read
    rs = plan.split("ReadSchema:")[1][:200]
    assert "props" not in rs and "value" not in rs
