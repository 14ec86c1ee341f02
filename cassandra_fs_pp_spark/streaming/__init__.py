from cassandra_fs_pp_spark.streaming.filestream import (  # noqa: F401
    debounce_admit_stateful,
    hourly_agg_stream,
    run_available_now,
    stream_table,
    watermark_dedup,
)
