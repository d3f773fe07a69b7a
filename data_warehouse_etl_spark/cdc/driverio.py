"""Driver-side parquet append for tiny metadata tables.

The metrics/checkpoints mirrors hold O(parts) rows per batch and already
live in the driver as Python lists. Writing them through a Spark job costs
a full job dispatch (task launch + parquet committer) per flush — measured
~1.5-2s each on a contended host — for a one-kilobyte file. Writing them
with pyarrow directly and committing via ``LakeTable.register_files`` keeps
the same atomic-manifest semantics at ~zero cost, and is exactly the
mechanism the ledger generator already uses (lake/table.py register_files).

Strictly for driver-resident metadata (O(parts)/O(batches) rows) — data
rows always go through Spark.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from ..lake import LakeTable

_ARROW_TYPES = {
    "int": pa.int32(),
    "bigint": pa.int64(),
    "double": pa.float64(),
    "string": pa.string(),
    "timestamp": pa.timestamp("us", tz="UTC"),
    "boolean": pa.bool_(),
}


def open_table(path: str, schema: list[tuple[str, str]]) -> LakeTable:
    """Create the mirror table at ``path``, or load it and append every
    ``schema`` column it lacks.

    A mirror created before its SCHEMA grew a column would otherwise keep
    its old manifest schema, and :func:`append_rows` would register wider
    files under the old schema_version — silently dropping the new column on
    read (and breaking consumers that select it). Evolving the manifest
    (add-as-null, new field id) before any append prevents that. New columns
    are only ever APPENDED to a SCHEMA, so positional row building stays
    aligned with the evolved field order.
    """
    if not LakeTable.exists(path):
        return LakeTable.create(path, schema, bucket_col=None)
    t = LakeTable.load(path)
    have = {f.name for f in t.manifest.current_fields}
    for n, ddl in schema:
        if n not in have:
            t = t.add_column(n, ddl)
    return t


def append_rows(table: LakeTable, rows: list[tuple], schema: list[tuple[str, str]]) -> LakeTable:
    """Append tuples to a (non-bucketed) LakeTable without a Spark job."""
    if not rows:
        return table
    arrow_schema = pa.schema([(n, _ARROW_TYPES[t]) for n, t in schema])
    cols = list(zip(*rows))
    tbl = pa.table(
        {n: pa.array(list(c), type=_ARROW_TYPES[t]) for (n, t), c in zip(schema, cols)},
        schema=arrow_schema,
    )
    rel = os.path.join("data", f"drv-{uuid.uuid4().hex[:12]}.parquet")
    abs_path = os.path.join(table.path, rel)
    os.makedirs(os.path.dirname(abs_path), exist_ok=True)
    pq.write_table(tbl, abs_path)
    return table.refresh().register_files(
        [{"path": rel, "bucket": 0, "schema_version": table.manifest.schema_version}],
        operation="append_rows",
    )
