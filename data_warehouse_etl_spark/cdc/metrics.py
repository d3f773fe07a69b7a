"""Per-batch / per-partition lineage + throughput metrics table.

Analog of the reference's SILVERPOP_METRIC_CONTROL — a table of per-run
change counts written after every apply
(``/root/reference/Sql Scripts/SILVERPOP_METRIC_CONTROL.sql:1-61``).

Metrics rows are appended *after* the data commit and are observational: a
crash between the data commit and the metrics append re-emits the batch's
rows on retry, so :meth:`read` dedups by (batch_id, part) — the data path's
exactly-once guarantee is never hostage to the metrics path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lake import LakeTable
from .driverio import append_rows, open_table

SCHEMA = [
    ("batch_id", "bigint"),
    ("part", "int"),
    ("events_in", "bigint"),
    ("inserts", "bigint"),
    ("updates", "bigint"),
    ("deletes", "bigint"),
    ("dedup_dropped", "bigint"),
    ("late_dropped", "bigint"),
    ("bytes_html", "bigint"),
    ("wall_ms", "bigint"),
    ("events_per_sec", "double"),
    # read amplification at commit time: max delta files stacked on any one
    # bucket (MoR reads resolve base+deltas; compaction folds them back)
    ("max_deltas_per_bucket", "bigint"),
]
_DDL = ", ".join(f"{n} {t}" for n, t in SCHEMA)


class MetricsTable:
    def __init__(self, table: LakeTable):
        self.table = table

    @staticmethod
    def open(path: str) -> "MetricsTable":
        return MetricsTable(open_table(path, SCHEMA))

    def append(self, spark: SparkSession, rows: list[dict]) -> None:
        if not rows:
            return
        ordered = [tuple(r[n] for n, _ in SCHEMA) for r in rows]
        # O(parts) driver-resident rows → pyarrow write + manifest commit,
        # no Spark job (see cdc/driverio.py)
        self.table = append_rows(self.table, ordered, SCHEMA)

    def read(self, spark: SparkSession) -> DataFrame:
        """Deduped view: one row per (batch_id, part)."""
        df = self.table.refresh().read(spark)
        return df.dropDuplicates(["batch_id", "part"]).orderBy("batch_id", "part")

    def throughput(self, spark: SparkSession) -> DataFrame:
        return (
            self.read(spark)
            .groupBy("batch_id")
            .agg(
                F.sum("events_in").alias("events_in"),
                F.max("wall_ms").alias("wall_ms"),
                (F.sum("events_in") / (F.max("wall_ms") / 1000.0)).alias("events_per_sec"),
            )
            .orderBy("batch_id")
        )
