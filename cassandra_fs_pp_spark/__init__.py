"""cassandra_fs_pp_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference package ``erc-cassandra/cassandra_fs_pp`` (scientific-sensor ETL +
time-series analytics; see SURVEY.md), re-expressed Spark-first:
declarative DataFrame/SQL plans optimized by Catalyst, designed for
100 TB-scale partitioned execution rather than single-node pandas.

Layout:
    session     SparkSession construction + runtime tuning
    sources     scans: parquet star schema, TOA5 logger files, NetCDF
    operators   relational + time-series operators (dedup, validity,
                windows, joins, reshape, similarity, graph)
    functions   scalar/column function families (text analysis, curation,
                and functions/multimodal: opaque binary image/audio
                columns + Arrow UDF plumbing)
    plans       reference-parity L0->L1->L2 pipelines (plans/levels.py)
    engine      SiteEngine, the one-station pipeline handle; cli its CLI
    sinks       CSV, Parquet and NetCDF exports
    streaming   Structured Streaming skin over the batch semantics
"""

__version__ = "0.1.0"

from cassandra_fs_pp_spark.session import get_spark, tune

__all__ = ["get_spark", "tune", "__version__"]
