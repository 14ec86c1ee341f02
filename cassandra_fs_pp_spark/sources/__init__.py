from cassandra_fs_pp_spark.sources.netcdf import (
    load_netcdf,
    load_netcdf_long,
)
from cassandra_fs_pp_spark.sources.tables import TABLES, load_table

__all__ = ["TABLES", "load_table", "load_netcdf", "load_netcdf_long"]
