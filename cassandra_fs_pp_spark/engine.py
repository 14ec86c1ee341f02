"""User-facing site engine — the reference's ``fs`` class surface
(``cassandra_fs_pp/fs_pp.py:29-65``) on Spark.

A user of the reference drives everything through ``fs(metafile,
data_root)`` then calls pipeline methods; :class:`SiteEngine` is that
handle: config-driven, writes via the engine sinks. L1 comes out as a
lazy DataFrame (it has one sink); L2 is materialised once in
:meth:`SiteEngine.level1_to_level2`, because the reference builds one
L2 dataset and writes it twice, to CSV and to NetCDF.

    eng = SiteEngine(spark, "ppconfig/fs1.toml", "/data")
    l1 = eng.level0_to_level1()
    eng.write_l1(l1)                      # K1 CSV (reference contract)
    l2 = eng.level1_to_level2(l1)
    eng.write_l2_csv(l2)                  # K2
    eng.to_netcdf(l2, "fs1.nc")           # K3 (built-in classic writer)

CLI twins of the reference's ``bin/fs_process_l1.py`` / ``fs_process_l2.py``
live in :mod:`cassandra_fs_pp_spark.cli`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from cassandra_fs_pp_spark import sinks
from cassandra_fs_pp_spark.config import SiteConfig, load_config
from cassandra_fs_pp_spark.plans import levels
from cassandra_fs_pp_spark.session import tune
from cassandra_fs_pp_spark.sources.toa5 import read_toa5_positions


class SiteEngine:
    """One site's processing handle (config + data root + session)."""

    def __init__(
        self, spark: SparkSession, config_file: str, data_root: str
    ) -> None:
        self.spark = tune(spark)
        self.config: SiteConfig = load_config(config_file)
        self.data_root = data_root

    # -- level 0 -> 1 ------------------------------------------------------
    def level0_to_level1(self, **kw) -> DataFrame:
        return levels.level0_to_level1(self.spark, self.config, self.data_root, **kw)

    def default_l1_path(self) -> str:
        """Reference default: <root>/firn_stations/level_1/<site>_l1.csv
        (``cassandra_fs_pp/fs_pp.py:186-190``) — here a directory sink."""
        return os.path.join(
            self.data_root, "level_1", f"{self.config.site}_l1.csv"
        )

    def write_l1(self, l1: DataFrame, path: str | None = None) -> str:
        path = path or self.default_l1_path()
        sinks.write_csv_single(l1, path)
        return path

    def load_level1(self, path: str | None = None) -> DataFrame:
        return levels.load_level1_csv(self.spark, path or self.default_l1_path())

    # -- level 1 -> 2 ------------------------------------------------------
    def load_calibrations(self, path: str) -> dict[str, tuple[float, float]]:
        return levels.load_calibrations(self.spark, path)

    def level1_to_level2(
        self,
        l1: DataFrame,
        calibrations: dict[str, tuple[float, float]] | None = None,
        **kw,
    ) -> DataFrame:
        """L1 -> L2, materialised once (``localCheckpoint``).

        The reference builds L2 once in memory and writes it to CSV and
        to NetCDF (``bin/fs_process_l2.py:60-204``). A lazy L2 would
        re-plan and re-run its whole lineage (its shuffles, broadcasts
        and three scans of the L1 CSV) for each sink and for a
        ``count()``; the checkpoint runs it once here and every later
        action reads the stored rows. Building the lineage runs one more
        job, the collect of the per-site scalars
        (:func:`~cassandra_fs_pp_spark.plans.levels.fleet_normalise_udg`).

        The barrier sits here, not in :mod:`~cassandra_fs_pp_spark.plans.levels`:
        ``levels.level1_to_level2`` and ``fleet_level1_to_level2`` stay
        lazy, since the fleet writes its L2 once and a barrier there would
        only add a pass.

        Trade-off: checkpoint blocks live in executor storage and have no
        lineage. If an executor is lost, a later sink fails instead of
        recomputing. That is acceptable for a per-station product that
        :meth:`to_netcdf` already collects to the driver.
        """
        return levels.level1_to_level2(
            l1, self.config, calibrations, **kw
        ).localCheckpoint()

    def write_l2_csv(self, l2: DataFrame, path: str) -> str:
        sinks.write_csv_single(l2, path)
        return path

    def to_netcdf(self, l2: DataFrame, path: str, **kw) -> str:
        sinks.to_netcdf(l2, path, time_col="TIMESTAMP", **kw)
        return path

    # -- depth products ----------------------------------------------------
    def dtc_positions(self, path: str) -> list[float]:
        return read_toa5_positions(self.spark, path)

    def chain_depths(
        self, positions_mm: list[float], first_sensor: int, depth: float
    ) -> dict[int, float]:
        return levels.chain_installation_depths(positions_mm, first_sensor, depth)

    def calc_depth_tdr(self, udg: DataFrame, install_date, install_depth, **kw):
        return levels.calc_depth_tdr(udg, install_date, install_depth, **kw)
