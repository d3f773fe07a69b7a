"""Lineage views over the pages table's snapshots: per-batch, per-part
metrics and the per-run cadence registry.

Analogs of the reference's SILVERPOP_METRIC_CONTROL, a table of per-run
change counts written after every apply
(``/root/reference/Sql Scripts/SILVERPOP_METRIC_CONTROL.sql:1-61``), and of
its "Schedule Frequency" sheet (``/root/reference/tables used.xlsx``). The
reference writes each in a second statement after the data; here a batch's
metric rows, its run identity and the declared frequency ride the batch's
own manifest publish as that version's summary (``Manifest.summary``), so
they are exactly as durable as the data and cost no commit of their own.

Both views are read-only DataFrames built on the driver from the retained
snapshots' manifests: no Spark job reads them, and ``expire_snapshots``
(``EngineConfig.retain_snapshots``) bounds the history they can show.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lake import LakeTable

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
    # the part's offset committed with the batch (the ETL_LOAD_CONTROL row)
    ("committed_seq", "bigint"),
    # the choices the engine made: broadcast_keys | full_shuffle, pre | post
    ("dedup_plan", "string"),
    ("extract_placement", "string"),
]

SCHEDULE_SCHEMA = [
    ("process", "string"),
    ("frequency", "string"),  # daily | monthly | on_demand | run_time | cron:...
    ("last_run_at", "timestamp"),
    ("batches_applied", "bigint"),
]


def _ddl(schema: list[tuple[str, str]]) -> str:
    return ", ".join(f"{n} {t}" for n, t in schema)


class MetricsView:
    def __init__(self, table: LakeTable):
        self.table = table

    def read(self, spark: SparkSession) -> DataFrame:
        """One row per (batch_id, part), ordered by both. A rollback can
        re-apply a batch id; the newest version's row is the one kept."""
        rows = {}
        for _ts, s in self.table.summaries():
            for r in s.get("metrics", []):
                rows[(r["batch_id"], r["part"])] = tuple(r[n] for n, _ in SCHEMA)
        return spark.createDataFrame([rows[k] for k in sorted(rows)], _ddl(SCHEMA))

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


class ScheduleView:
    """One row per ``run()`` that applied a batch: the process (the table's
    name), its declared frequency, the commit time of the run's newest
    retained batch and the number of batches the run had applied by then."""

    def __init__(self, table: LakeTable):
        self.table = table

    def _runs(self) -> list[tuple]:
        runs = {}
        for ts, s in self.table.summaries():  # oldest first: the last wins
            if "run" in s:
                at = _dt.datetime.fromtimestamp(ts, _dt.timezone.utc)
                runs[s["run"]] = (self.table.manifest.table, s["frequency"], at, s["run_batches"])
        return sorted(runs.values(), key=lambda r: r[2], reverse=True)

    def read(self, spark: SparkSession) -> DataFrame:
        """Full run history, newest first."""
        return spark.createDataFrame(self._runs(), _ddl(SCHEDULE_SCHEMA))

    def latest(self, spark: SparkSession) -> DataFrame:
        """The process's declared frequency and most recent run (a view
        over one table has one process)."""
        return spark.createDataFrame(self._runs()[:1], _ddl(SCHEDULE_SCHEMA))
