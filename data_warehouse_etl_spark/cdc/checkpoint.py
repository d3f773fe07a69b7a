"""Queryable per-partition checkpoint mirror (ETL_LOAD_CONTROL analog).

The *authoritative* committed offsets live inside the pages-table manifest
properties, committed atomically with the data (see engine.py) — that is what
makes the sink exactly-once, unlike the reference's separate high-water-mark
table updated in a second statement
(``/root/reference/Sql Scripts/RestaurantDetails_Marta_v11_06152015.sql:153-155``).

This table is a convenience mirror for operators and lineage queries
(FIXTURES.md ``_checkpoints`` shape: part, committed_seq, batch_id,
committed_at). Written best-effort after the data commit; on any divergence
the manifest wins.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession

from ..lake import LakeTable
from .driverio import append_rows, open_table

SCHEMA = [
    ("part", "int"),
    ("committed_seq", "bigint"),
    ("batch_id", "bigint"),
    ("committed_at", "timestamp"),
]
_DDL = ", ".join(f"{n} {t}" for n, t in SCHEMA)


class CheckpointsTable:
    def __init__(self, table: LakeTable):
        self.table = table

    @staticmethod
    def open(path: str) -> "CheckpointsTable":
        return CheckpointsTable(open_table(path, SCHEMA))

    def record(self, spark: SparkSession, batch_id: int, offsets: dict[int, int]) -> None:
        self.record_many(spark, [(batch_id, offsets)])

    def record_many(
        self, spark: SparkSession, entries: list[tuple[int, dict[int, int]]]
    ) -> None:
        """One append for many batches' offsets (the engine buffers mirror
        writes and flushes periodically — see EngineConfig.mirror_flush_batches)."""
        if not entries:
            return
        now = _dt.datetime.now(_dt.timezone.utc)
        rows = [
            (p, s, batch_id, now)
            for batch_id, offsets in entries
            for p, s in sorted(offsets.items())
        ]
        # O(parts) driver-resident rows → pyarrow write + manifest commit,
        # no Spark job (see cdc/driverio.py)
        self.table = append_rows(self.table, rows, SCHEMA)

    def read(self, spark: SparkSession) -> DataFrame:
        return self.table.refresh().read(spark).dropDuplicates(["batch_id", "part"])
