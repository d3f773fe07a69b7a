"""Per-process schedule/cadence registry (the reference's job-frequency
metadata surface).

The reference records each pipeline's cadence as sheet strings — Daily /
Monthly / On Demand / Run Time — alongside its load-control bookkeeping
(``/root/reference/tables used.xlsx`` "Schedule Frequency";
``/root/reference/Sql Scripts/RestaurantDetails_Marta_v11_06152015.sql:153-155``
pairs the high-water-mark row with the process identity). The engine's
``_checkpoints`` mirror covers the offsets half; this table covers the
*frequency* half: one row per ``run()`` with (process, declared frequency,
completion time, batches applied), so operators can query "what runs at
what cadence, and when did it last run" without scraping logs.

Observational like the other mirrors: written driver-side after the run
(no Spark job — see cdc/driverio.py); the data path's exactly-once
guarantee never depends on it.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lake import LakeTable
from .driverio import append_rows, open_table

SCHEMA = [
    ("process", "string"),
    ("frequency", "string"),  # daily | monthly | on_demand | run_time | cron:...
    ("last_run_at", "timestamp"),
    ("batches_applied", "bigint"),
]


class ScheduleTable:
    def __init__(self, table: LakeTable):
        self.table = table

    @staticmethod
    def open(path: str) -> "ScheduleTable":
        return ScheduleTable(open_table(path, SCHEMA))

    def record(self, process: str, frequency: str, batches_applied: int) -> None:
        now = _dt.datetime.now(_dt.timezone.utc)
        # O(1) driver-resident row → pyarrow write + manifest commit,
        # no Spark job (see cdc/driverio.py)
        self.table = append_rows(
            self.table, [(process, frequency, now, batches_applied)], SCHEMA
        )

    def read(self, spark: SparkSession) -> DataFrame:
        """Full run history, newest first."""
        return self.table.refresh().read(spark).orderBy(F.desc("last_run_at"))

    def latest(self, spark: SparkSession) -> DataFrame:
        """One row per process: its declared frequency and most recent run."""
        df = self.table.refresh().read(spark)
        return (
            df.groupBy("process")
            .agg(
                F.max_by("frequency", "last_run_at").alias("frequency"),
                F.max("last_run_at").alias("last_run_at"),
                F.max_by("batches_applied", "last_run_at").alias("batches_applied"),
            )
        )
