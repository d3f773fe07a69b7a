"""LakeTable — an atomic-snapshot parquet lake table with Iceberg-style semantics.

The engine targets Apache Iceberg on a real cluster; this sandbox has no
network to fetch ``iceberg-spark-runtime`` jars, so LakeTable provides the
same *semantics* on plain parquet + a JSON manifest, behind one interface
(SURVEY.md §7 "Iceberg availability in sandbox"):

- **Atomic snapshot commit**: every mutation writes new data files, then
  publishes manifest ``metadata/v{N+1}.json`` over base ``v{N}`` by atomic
  create-if-absent (a durable temp manifest hard-linked to the new name).
  That creation is the one commit point; the head is the highest published
  version, so readers see either the old or the new snapshot, never a mix.
  This replaces the reference's shadow-rebuild +
  ``ALTER TABLE RENAME`` publish idiom
  (``/root/reference/Sql Scripts/FCT_RESERVATION_UPD.sql:255-256``,
  ``DM_RESTAURANT_MOD.sql:120-122``).
- **Field-id schema evolution**: columns are tracked by integer field id.
  ``add_column`` / ``rename_column`` bump the schema version without touching
  data files; old files are mapped to the current schema on read by field id
  (rename-safe, add-as-null). This replaces the reference's manual
  rebuild-with-extra-columns-and-rename idiom
  (``FCT_RESERVATION_UPD.sql:167-256``).
- **Bucket partitioning + pruning**: data files are laid out by
  ``bucket(N, key)`` (or by ``identity(key)`` for an integer cell id, the
  similarity indexes' layout); commits that only touch some buckets rewrite only those
  buckets' files (copy-on-write MERGE granularity), and reads can prune to a
  bucket subset. Analog of Iceberg's ``bucket(N, url)`` partition transform;
  the reference's only layout directive, ``DISTRIBUTE ON RANDOM``
  (``DM_FULL_BOOK.sql:14`` et al.), is strictly weaker.
- **Transactional properties**: the manifest carries a string->string
  properties map committed atomically with the data — the engine stores
  per-partition committed offsets there, making checkpoint+data one
  transaction (exactly-once; ETL_LOAD_CONTROL analog,
  ``RestaurantDetails_Marta_v11_06152015.sql:153-155``). Each version also
  carries a ``summary`` of what its own commit recorded (Iceberg's snapshot
  summary, not inherited): the engine's per-batch lineage rows.

Concurrency: optimistic, like Delta Lake's put-if-absent log entries. Of the
committers that share a base, exactly one creates the next version; the rest
raise "concurrent commit detected" and may ``refresh()`` and retry. A real
deployment swaps this module for Iceberg's catalog; the engine code above
this interface is unchanged.

Scale notes (100 TB posture): the manifest holds one entry per data file, so
file count — not data volume — bounds manifest size; ``files_per_bucket``
controls write parallelism so one bucket is not one giant file. Reads of a
bucket subset list O(|subset|) files. At 10^10 events with bucket(1024, url),
a batch touching all buckets rewrites the table — which is why the CDC layer
prunes to *affected* buckets per batch before calling overwrite_buckets.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

@dataclass
class FieldSpec:
    """One column tracked by field id (Iceberg-style)."""

    id: int
    name: str
    type: str  # Spark DDL type string, e.g. "string", "timestamp", "binary"

    def to_json(self) -> dict[str, Any]:
        return {"id": self.id, "name": self.name, "type": self.type}

    @staticmethod
    def from_json(d: dict[str, Any]) -> "FieldSpec":
        return FieldSpec(id=d["id"], name=d["name"], type=d["type"])


@dataclass
class Manifest:
    table: str
    version: int
    schema_version: int
    # schema history: schema_version -> ordered field list
    schemas: dict[int, list[FieldSpec]]
    next_field_id: int
    bucket_col: str | None
    num_buckets: int
    # files: list of {"path": rel, "bucket": int, "schema_version": int,
    #                 "kind": "base"|"delta" (absent = base), "rows": int}
    files: list[dict[str, Any]] = field(default_factory=list)
    properties: dict[str, str] = field(default_factory=dict)
    history: list[dict[str, Any]] = field(default_factory=list)
    # merge-on-read resolution spec: one live row per row_key, the row with
    # the greatest version_cols tuple wins (None = plain table, no MoR)
    row_key: str | None = None
    version_cols: list[str] = field(default_factory=list)
    # partition transform of bucket_col: "hash" = pmod(xxhash64(col), N);
    # "identity" = the column's own int value (one bucket per cell id)
    transform: str = "hash"
    # what this version's commit recorded about itself (Iceberg's snapshot
    # summary): JSON values, never inherited by later commits
    summary: dict[str, Any] = field(default_factory=dict)

    @property
    def current_fields(self) -> list[FieldSpec]:
        return self.schemas[self.schema_version]

    @property
    def has_deltas(self) -> bool:
        return any(f.get("kind", "base") == "delta" for f in self.files)

    def to_json(self) -> dict[str, Any]:
        return {
            "table": self.table,
            "version": self.version,
            "schema_version": self.schema_version,
            "schemas": {
                str(v): [f.to_json() for f in fields] for v, fields in self.schemas.items()
            },
            "next_field_id": self.next_field_id,
            "bucket_col": self.bucket_col,
            "num_buckets": self.num_buckets,
            "files": self.files,
            "properties": self.properties,
            "history": self.history,
            "row_key": self.row_key,
            "version_cols": self.version_cols,
            "transform": self.transform,
            "summary": self.summary,
        }

    @staticmethod
    def from_json(d: dict[str, Any]) -> "Manifest":
        return Manifest(
            table=d["table"],
            version=d["version"],
            schema_version=d["schema_version"],
            schemas={
                int(v): [FieldSpec.from_json(f) for f in fields]
                for v, fields in d["schemas"].items()
            },
            next_field_id=d["next_field_id"],
            bucket_col=d.get("bucket_col"),
            num_buckets=d.get("num_buckets", 1),
            files=d["files"],
            properties=d.get("properties", {}),
            history=d.get("history", []),
            row_key=d.get("row_key"),
            version_cols=d.get("version_cols", []),
            transform=d.get("transform", "hash"),
            summary=d.get("summary", {}),
        )


def quote_ident(name: str) -> str:
    """``name`` as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def quote_format_ident(name: str) -> str:
    """``name`` as a quoted SQL identifier in a text passed to
    ``spark.sql(text, df=...)``, which runs the text through ``str.format``
    first: braces are doubled so that they reach the parser as written."""
    return quote_ident(name).replace("{", "{{").replace("}", "}}")


@functools.lru_cache(maxsize=None)
def _spark_type(ddl: str) -> T.DataType:
    """The DataType of a DDL type string. Parsing goes through the JVM, and
    a batch asks for the same few strings many times, so it is memoized."""
    return T._parse_datatype_string(ddl)


class LakeTable:
    """A versioned parquet table at ``path`` with atomic commits.

    Use :meth:`create` once, then :meth:`load`. Every mutation publishes a
    new immutable snapshot ``metadata/v{N+1}.json`` on top of the handle's
    base ``v{N}`` (:meth:`_publish`: atomic create-if-absent, refused unless
    ``v{N}`` is still the head). :meth:`load` and :meth:`refresh` take the
    highest published version as the head; :meth:`read` reflects the
    handle's snapshot.
    """

    def __init__(self, path: str, manifest: Manifest):
        self.path = path
        self.manifest = manifest

    # ------------------------------------------------------------- lifecycle

    @staticmethod
    def create(
        path: str,
        schema: list[tuple[str, str]],
        bucket_col: str | None = None,
        num_buckets: int = 16,
        properties: dict[str, str] | None = None,
        row_key: str | None = None,
        version_cols: list[str] | None = None,
        transform: str = "hash",
    ) -> "LakeTable":
        """Create an empty table. ``schema`` is [(name, spark_ddl_type), ...].

        ``transform="identity"`` buckets by the integer value of
        ``bucket_col`` itself instead of its hash: one bucket per cell id,
        for layouts whose readers prune to named cells (the similarity
        indexes); ``num_buckets`` is then only the write parallelism.

        ``row_key`` + ``version_cols`` declare merge-on-read semantics: reads
        resolve to one row per key (greatest version tuple wins), which lets
        :meth:`append_deltas` commit upserts without rewriting base files.
        """
        if LakeTable.exists(path):
            raise FileExistsError(f"a table already exists at {path}")
        os.makedirs(os.path.join(path, "metadata"), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        fields = [FieldSpec(i + 1, n, t) for i, (n, t) in enumerate(schema)]
        m = Manifest(
            table=os.path.basename(path.rstrip("/")),
            version=0,
            schema_version=0,
            schemas={0: fields},
            next_field_id=len(fields) + 1,
            bucket_col=bucket_col,
            num_buckets=num_buckets,
            properties=dict(properties or {}),
            history=[{"version": 0, "operation": "create"}],
            row_key=row_key,
            version_cols=list(version_cols or []),
            transform=transform,
        )
        LakeTable._publish(path, m)
        return LakeTable(path, m)

    @staticmethod
    def load(path: str, version: int | None = None) -> "LakeTable":
        """Load the current snapshot, or a retained historical one.

        ``version=None`` loads the head, the highest published version. An
        explicit ``version`` is time travel: the returned handle reads that
        snapshot's file set under that snapshot's schema. Historical handles
        are naturally read-only — any commit from one fails the head check
        in :meth:`_publish`. Analog of Iceberg's ``VERSION AS OF``.
        """
        if version is None:
            versions = LakeTable._versions(path)
            if not versions:
                raise FileNotFoundError(f"no table at {path}")
            version = versions[-1]
        try:
            with open(os.path.join(path, "metadata", f"v{version}.json")) as fh:
                return LakeTable(path, Manifest.from_json(json.load(fh)))
        except FileNotFoundError:
            raise ValueError(
                f"snapshot v{version} of {path} is not retained "
                "(expired by expire_snapshots, or never existed)"
            ) from None

    @staticmethod
    def exists(path: str) -> bool:
        return bool(LakeTable._versions(path))

    def refresh(self) -> "LakeTable":
        """Reload the head (another committer may have advanced it)."""
        return LakeTable.load(self.path)

    # ------------------------------------------------------------------ read

    def schema(self) -> T.StructType:
        return T.StructType(
            [T.StructField(f.name, _spark_type(f.type), True) for f in self.manifest.current_fields]
        )

    def bucket_sql(self, col: str | None = None) -> str:
        """SQL text of the table's partition transform: pmod(xxhash64(key), N),
        or CAST(key AS INT) under the identity transform.

        Deterministic and engine-internal (plays the role of Iceberg's
        murmur3 bucket transform). Callers use it (``F.expr`` of it as a
        Column) to pre-compute affected buckets for pruned reads and
        copy-on-write commits.
        """
        c = quote_ident(col or self.manifest.bucket_col)
        if self.manifest.transform == "identity":
            return f"CAST({c} AS INT)"
        return f"CAST(pmod(xxhash64({c}), {self.manifest.num_buckets}) AS INT)"

    def read(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        file_filter=None,
        resolve: bool = True,
    ) -> DataFrame:
        """Read the current snapshot, optionally pruned to a bucket subset.

        ``file_filter`` is an optional predicate over manifest file entries —
        the engine uses it for file-stats pruning (skip ledger files whose
        ``stats.min_seq/max_seq`` range doesn't overlap the batch), the
        manifest-level analog of Iceberg's per-file column stats.

        Files written under older schema versions are mapped to the current
        schema by field id: renamed columns resolve to their current name,
        added columns appear as typed nulls. Each schema version's mapping is
        one ``selectExpr`` of ``CAST(old AS type) AS new`` texts (``CAST(NULL
        AS type)`` for an added column): the plan of per-column ``Column``
        calls, built in one JVM step and a few py4j round trips.

        Merge-on-read: when the table declares ``row_key``/``version_cols``
        and the selected files include delta files, rows are resolved to one
        live row per key (greatest version tuple wins — exact LWW, one
        hash-aggregate shuffle with map-side combine, no window sort). Pass
        ``resolve=False`` for the raw base+delta rows (compaction internals,
        delta inspection). Resolution is per-key and the bucket transform is
        on the key, so a bucket-pruned read resolves correctly in isolation.
        """
        m = self.manifest
        files = m.files
        if buckets is not None:
            bset = set(buckets)
            files = [f for f in files if f["bucket"] in bset]
        if file_filter is not None:
            files = [f for f in files if file_filter(f)]
        if not files:
            return spark.createDataFrame([], self.schema())

        cur = m.current_fields
        out: DataFrame | None = None
        by_schema: dict[int, list[str]] = {}
        for f in files:
            by_schema.setdefault(f["schema_version"], []).append(
                os.path.join(self.path, f["path"])
            )
        for sv, paths in sorted(by_schema.items()):
            old_by_id = {f.id: f for f in m.schemas[sv]}
            # explicit schema from the manifest: without it every read runs a
            # driver-side parquet footer-inference job (1 task, ~0.3-1s) —
            # pure serial time on the batch loop's critical path
            file_schema = T.StructType(
                [T.StructField(f.name, _spark_type(f.type), True) for f in m.schemas[sv]]
            )
            df = spark.read.schema(file_schema).parquet(*paths)
            part = df.selectExpr(*[
                f"CAST({quote_ident(old_by_id[f.id].name) if f.id in old_by_id else 'NULL'}"
                f" AS {f.type}) AS {quote_ident(f.name)}"
                for f in cur
            ])
            out = part if out is None else out.unionByName(part)

        needs_resolve = m.row_key is not None and any(
            f.get("kind", "base") == "delta" for f in files
        )
        if resolve and needs_resolve:
            out = self._resolve(out)
        return out

    def _resolve(self, df: DataFrame) -> DataFrame:
        """LWW-resolve base+delta rows: argmax over version_cols per row_key.

        Aggregation, not a window: a window would funnel each hot key
        through one sorted task. For the standard 2-tuple version order
        ending in a globally unique id (_seq) the winner ids are computed
        on a 3-column projection with chained HASH aggregates (a
        struct-buffered ``max_by`` plans SortAggregate and was measured
        sorting the full payload rows on both sides of its exchange —
        cdc/dedup.py module docstring), and the full rows are recovered by
        an equi join on the unique id. The join is hinted SHUFFLE_HASH so
        the planner cannot re-introduce the payload sort via sort-merge;
        the build side (one id per live key of the scanned subset) is
        bounded per partition. The argmax is total-ordered → deterministic
        at any parallelism/batch slicing.

        The 2-tuple case is ``cdc.dedup.lww_dedup``, built from one SQL
        text: one JVM analysis and a few py4j round trips for the plan
        described above.
        """
        m = self.manifest
        if len(m.version_cols) == 2:
            from ..cdc.dedup import lww_dedup

            return lww_dedup(df, m.row_key, tuple(m.version_cols))
        value_cols = [c for c in df.columns if c != m.row_key]
        return (
            df.groupBy(m.row_key)
            .agg(
                F.max_by(
                    F.struct(*value_cols),
                    F.struct(*[F.col(c) for c in m.version_cols]),
                ).alias("_r")
            )
            .select(
                *[
                    F.col(c) if c == m.row_key else F.col(f"_r.{c}").alias(c)
                    for c in df.columns
                ]
            )
        )

    # ----------------------------------------------------------------- write

    def _write_data(
        self,
        df: DataFrame,
        files_per_bucket: int = 1,
        post_shuffle=None,
    ) -> list[dict[str, Any]]:
        """Write df as parquet split by the table's bucket transform.

        Returns manifest file entries. Rows are shuffled once on the bucket
        id (plus an optional intra-bucket split for write parallelism) so
        each bucket lands in few, large files — the layout a pruned merge
        later relies on.

        ``post_shuffle`` is an optional row-preserving column transform
        (df → df, same schema) applied AFTER the bucket exchange, directly
        before the file write. Callers use it to keep derived heavyweight
        columns (e.g. the engine's UDF-extracted text) out of the shuffle:
        only the source columns cross the exchange and the derivation runs
        once in the write tasks (guide: shuffle the proxy, not the payload).
        """
        m = self.manifest
        snap_dir = f"data/snap-{uuid.uuid4().hex[:12]}"
        abs_dir = os.path.join(self.path, snap_dir)
        cols = [quote_ident(f.name) for f in m.current_fields]
        if m.bucket_col:
            df = df.selectExpr("*", f"{self.bucket_sql()} AS _bucket")
            if files_per_bucket > 1:
                df = df.repartition(
                    m.num_buckets * files_per_bucket,
                    F.col("_bucket"),
                    F.pmod(F.xxhash64(F.col(m.bucket_col)), F.lit(files_per_bucket)),
                )
            else:
                df = df.repartition(m.num_buckets, F.col("_bucket"))
            if post_shuffle is not None:
                df = post_shuffle(df)
            df.selectExpr("_bucket", *cols).write.mode("overwrite").partitionBy(
                "_bucket"
            ).parquet(abs_dir)
        else:
            if post_shuffle is not None:
                df = post_shuffle(df)
            df.selectExpr(*cols).write.mode("overwrite").parquet(abs_dir)

        entries: list[dict[str, Any]] = []
        for root, _dirs, fnames in os.walk(abs_dir):
            for fn in fnames:
                if not fn.endswith(".parquet"):
                    continue
                rel_root = os.path.relpath(root, self.path)
                bucket = 0
                if "_bucket=" in root:
                    bucket = int(root.rsplit("_bucket=", 1)[1].split(os.sep)[0])
                entries.append(
                    {
                        "path": os.path.join(rel_root, fn),
                        "bucket": bucket,
                        "schema_version": m.schema_version,
                    }
                )
        return entries

    def _commit(
        self,
        new_files: list[dict[str, Any]],
        operation: str,
        properties_update: dict[str, str] | None = None,
        schemas_update: dict[int, list[FieldSpec]] | None = None,
        schema_version: int | None = None,
        next_field_id: int | None = None,
        bucket_col_override: str | None = None,
        properties_drop: list[str] | None = None,
        num_buckets_override: int | None = None,
        summary: dict[str, Any] | None = None,
    ) -> "LakeTable":
        m = self.manifest
        new = Manifest(
            table=m.table,
            version=m.version + 1,
            schema_version=m.schema_version if schema_version is None else schema_version,
            schemas={**m.schemas, **(schemas_update or {})},
            next_field_id=m.next_field_id if next_field_id is None else next_field_id,
            bucket_col=m.bucket_col if bucket_col_override is None else bucket_col_override,
            num_buckets=m.num_buckets if num_buckets_override is None else num_buckets_override,
            files=new_files,
            properties={
                k: v
                for k, v in {**m.properties, **(properties_update or {})}.items()
                if not (properties_drop and k in properties_drop)
            },
            history=m.history
            + [
                {
                    "version": m.version + 1,
                    "operation": operation,
                    # wall-clock commit time: operational metadata only
                    # (TIMESTAMP AS OF); never part of row state, so
                    # byte-identity across replays is unaffected
                    "ts": time.time(),
                }
            ],
            row_key=m.row_key,
            version_cols=m.version_cols,
            transform=m.transform,
            summary=summary or {},
        )
        LakeTable._publish(self.path, new)
        self.manifest = new
        return self

    def append(
        self,
        df: DataFrame,
        properties_update: dict[str, str] | None = None,
        files_per_bucket: int = 1,
    ) -> "LakeTable":
        entries = self._write_data(df, files_per_bucket)
        return self._commit(
            self.manifest.files + entries, "append", properties_update=properties_update
        )

    def overwrite_buckets(
        self,
        df: DataFrame,
        buckets: list[int],
        properties_update: dict[str, str] | None = None,
        files_per_bucket: int = 1,
    ) -> "LakeTable":
        """Copy-on-write: replace exactly the given buckets' files with df.

        df must contain only rows belonging to ``buckets`` (the CDC apply
        guarantees this by construction). Untouched buckets' files carry over
        into the new snapshot unchanged — the pruning that keeps per-batch
        merge cost proportional to the batch, not the table.
        """
        entries = self._write_data(df, files_per_bucket)
        bset = set(buckets)
        kept = [f for f in self.manifest.files if f["bucket"] not in bset]
        return self._commit(
            kept + entries, "overwrite_buckets", properties_update=properties_update
        )

    def append_deltas(
        self,
        df: DataFrame,
        properties_update: dict[str, str] | None = None,
        files_per_bucket: int = 1,
        post_shuffle=None,
        commit_info=None,
    ) -> "LakeTable":
        """Merge-on-read upsert: commit df's rows as per-bucket DELTA files
        without reading or rewriting any carried row.

        This is the bounded-write path the copy-on-write merge cannot give:
        per-batch written bytes are O(batch), never O(affected buckets), so
        replay cost is linear in event count even when every batch touches
        every bucket. Reads resolve base+delta by the table's
        (row_key, version_cols) LWW rule; :meth:`compact` folds deltas back
        into base files (copy-on-write as the *compaction* mechanism, on the
        operator's cadence instead of every batch). A tombstone row
        (engine's ``_deleted=true``) is just a delta row that wins
        resolution — final state stays independent of batch slicing.

        ``commit_info(files) -> (properties_update, summary)`` is called with
        the new snapshot's file list after the write job and before the
        publish, so what that job observed rides the same commit: the
        properties it returns are applied over ``properties_update``, and
        the summary becomes the new version's :attr:`Manifest.summary`.

        Mirrors Iceberg's merge-on-read row-delta commits; the reference's
        own incremental idiom never rewrites the full table either
        (delete+reinsert windows, STG_SP_ATTRIBUTION_ET.sql:220-228).
        """
        if self.manifest.row_key is None:
            raise ValueError(
                f"table {self.manifest.table} has no row_key/version_cols; "
                "append_deltas requires merge-on-read semantics declared at create()"
            )
        entries = self._write_data(df, files_per_bucket, post_shuffle=post_shuffle)
        for e in entries:
            e["kind"] = "delta"
        files = self.manifest.files + entries
        props, summary = commit_info(files) if commit_info else ({}, None)
        return self._commit(
            files,
            "append_deltas",
            properties_update={**(properties_update or {}), **props},
            summary=summary,
        )

    def compact(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        properties_update: dict[str, str] | None = None,
        files_per_bucket: int = 1,
    ) -> "LakeTable":
        """Fold delta files back into base files for the given buckets
        (default: every bucket that currently has deltas).

        Pure layout change: the resolved row set is unchanged (state_hash
        before == after), only read amplification drops. Tombstones survive
        compaction — a late event older than an applied delete must stay
        dead no matter when compaction ran.
        """
        m = self.manifest
        if buckets is None:
            buckets = sorted(
                {f["bucket"] for f in m.files if f.get("kind", "base") == "delta"}
            )
        if not buckets:
            return self
        resolved = self.read(spark, buckets=buckets)  # LWW-resolved
        entries = self._write_data(resolved, files_per_bucket)
        bset = set(buckets)
        kept = [f for f in m.files if f["bucket"] not in bset]
        return self._commit(
            kept + entries, "compact", properties_update=properties_update
        )

    def replace(
        self,
        df: DataFrame,
        properties_update: dict[str, str] | None = None,
        files_per_bucket: int = 1,
    ) -> "LakeTable":
        """Atomic truncate-and-reload (reference S3/S4 publish idiom)."""
        entries = self._write_data(df, files_per_bucket)
        return self._commit(entries, "replace", properties_update=properties_update)

    def set_properties(self, properties_update: dict[str, str]) -> "LakeTable":
        return self._commit(self.manifest.files, "set_properties", properties_update)

    def register_files(
        self,
        entries: list[dict[str, Any]],
        operation: str = "append_files",
        properties_update: dict[str, str] | None = None,
    ) -> "LakeTable":
        """Commit externally-written parquet files into the table.

        Used by the ledger generator, which writes deterministic parquet via
        pyarrow (no Spark job) and registers the files with per-file stats
        (``{"path", "bucket", "schema_version", "stats": {...}}``) so reads
        can prune by seq range.
        """
        for e in entries:
            e.setdefault("schema_version", self.manifest.schema_version)
            e.setdefault("bucket", 0)
        return self._commit(
            self.manifest.files + entries, operation, properties_update=properties_update
        )

    # ------------------------------------------------------- schema evolution

    def add_column(self, name: str, ddl_type: str) -> "LakeTable":
        """ALTER TABLE ADD COLUMN — new field id; old files read as null."""
        m = self.manifest
        if any(f.name == name for f in m.current_fields):
            return self
        sv = m.schema_version + 1
        fields = [FieldSpec(f.id, f.name, f.type) for f in m.current_fields]
        fields.append(FieldSpec(m.next_field_id, name, ddl_type))
        return self._commit(
            m.files,
            f"add_column:{name}",
            schemas_update={sv: fields},
            schema_version=sv,
            next_field_id=m.next_field_id + 1,
        )

    def rename_column(self, old: str, new: str) -> "LakeTable":
        """ALTER TABLE RENAME COLUMN — same field id, new name; old files
        still resolve by id (the evolution the reference could only do by
        rebuilding the table)."""
        m = self.manifest
        if not any(f.name == old for f in m.current_fields):
            return self
        sv = m.schema_version + 1
        fields = [
            FieldSpec(f.id, new if f.name == old else f.name, f.type) for f in m.current_fields
        ]
        return self._commit(
            m.files,
            f"rename_column:{old}->{new}",
            schemas_update={sv: fields},
            schema_version=sv,
            # bucket_col rename rides in the SAME atomic manifest publish — a
            # crash can never publish a manifest whose bucket_col names a
            # column that no longer exists
            bucket_col_override=new if m.bucket_col == old else None,
        )

    def rebucket(
        self, spark: SparkSession, num_buckets: int, files_per_bucket: int = 1
    ) -> "LakeTable":
        """Partition-spec evolution: rewrite the table under a new
        ``bucket(N, key)`` width (Iceberg evolves the spec lazily; plain
        parquet cannot, so this is the rewrite form). A full rewrite by
        necessity — every row can change buckets — committed atomically
        like any other snapshot; it also folds MoR deltas (the rewrite
        reads the resolved live view). Older snapshots keep reading under
        their own layout, and :meth:`_changed_buckets` refuses to prune a
        changelog across the width change (full diff, still value-exact).
        """
        m = self.manifest
        if num_buckets == m.num_buckets:
            return self
        shadow = LakeTable(self.path, Manifest.from_json(m.to_json()))
        shadow.manifest.num_buckets = num_buckets  # write-side transform only
        entries = shadow._write_data(self.read(spark), files_per_bucket)
        return self._commit(
            entries,
            f"rebucket:{m.num_buckets}->{num_buckets}",
            num_buckets_override=num_buckets,
        )

    # ------------------------------------- snapshots / time travel / changelog

    def snapshots(self) -> list[dict[str, Any]]:
        """List retained snapshots (Iceberg ``.snapshots`` metadata-table
        analog): ``[{"version", "operation", "current"}]``, oldest first.

        "Retained" = the manifest file still exists; :meth:`expire_snapshots`
        removes old ones, and expired versions disappear from this listing
        even though they stay in the current manifest's ``history``."""
        ops = {h["version"]: h.get("operation", "?") for h in self.manifest.history}
        return [
            {
                "version": v,
                "operation": ops.get(v, "?"),
                "current": v == self.manifest.version,
            }
            for v in LakeTable._versions(self.path)
        ]

    def summaries(self) -> list[tuple[float, dict[str, Any]]]:
        """``(commit time, summary)`` of every retained snapshot whose
        commit recorded a summary, oldest first. Read from disk, so
        the result does not depend on the version this handle is at; an
        expired snapshot's summary is gone with it."""
        out = []
        for v in LakeTable._versions(self.path):
            try:
                with open(os.path.join(self.path, "metadata", f"v{v}.json")) as fh:
                    d = json.load(fh)
            except FileNotFoundError:
                continue  # expired since the listing
            if d.get("summary"):
                out.append((d["history"][-1]["ts"], d["summary"]))
        return out

    def at_version(self, version: int) -> "LakeTable":
        """Time-travel handle: read this table as of snapshot ``version``."""
        return LakeTable.load(self.path, version)

    _TAG_PREFIX = "ref.tag."

    def tag(self, name: str, version: int | None = None) -> "LakeTable":
        """Name a snapshot (Iceberg tag ref): ``at_tag(name)`` reads it, and
        :meth:`expire_snapshots` RETAINS tagged versions regardless of
        ``keep_last`` — the audit/repro anchor (\"the corpus as of the v3
        training run\"). Tags ride the properties map, so creating one is an
        atomic metadata commit; retag by calling again, remove with
        :meth:`untag`."""
        v = self.manifest.version if version is None else version
        LakeTable.load(self.path, v)  # must name a retained snapshot
        return self.set_properties({self._TAG_PREFIX + name: str(v)})

    def untag(self, name: str) -> "LakeTable":
        key = self._TAG_PREFIX + name
        if key not in self.manifest.properties:
            return self
        return self._commit(
            self.manifest.files, f"untag:{name}", properties_drop=[key]
        )

    def tags(self) -> dict[str, int]:
        p = self._TAG_PREFIX
        return {
            k[len(p):]: int(v)
            for k, v in self.manifest.properties.items()
            if k.startswith(p)
        }

    def at_tag(self, name: str) -> "LakeTable":
        try:
            v = int(self.manifest.properties[self._TAG_PREFIX + name])
        except KeyError:
            raise ValueError(f"no tag {name!r} on {self.manifest.table}") from None
        return LakeTable.load(self.path, v)

    def at_timestamp(self, ts: float) -> "LakeTable":
        """TIMESTAMP AS OF: the newest retained snapshot committed at or
        before ``ts`` (per the wall-clock commit time in ``history``)."""
        retained = {s["version"] for s in self.snapshots()}
        eligible = [
            h["version"]
            for h in self.manifest.history
            if h.get("ts") is not None and h["ts"] <= ts and h["version"] in retained
        ]
        if not eligible:
            raise ValueError(
                f"no retained snapshot of {self.manifest.table} at or before ts={ts}"
            )
        return LakeTable.load(self.path, max(eligible))

    def rollback(self, version: int) -> "LakeTable":
        """Restore an earlier snapshot's state as a NEW commit (Iceberg
        ``rollback_to_snapshot``): the head advances to a manifest
        whose file set + schema version are the old snapshot's. Nothing is
        deleted — the rolled-past snapshots stay retained (and inspectable /
        re-rollback-able) until :meth:`expire_snapshots`.

        ``next_field_id`` keeps the CURRENT counter so a post-rollback
        ``add_column`` can never reuse a field id that existed on the
        rolled-past timeline. Do not run concurrently with
        ``expire_snapshots`` (it may be deleting v{version}'s data files).

        ``num_buckets`` (like ``bucket_col``) is restored to the old
        snapshot's value: the restored file entries carry bucket ids
        computed under the OLD width, and a manifest mixing them with the
        new width would silently mis-prune bucket reads and misclassify
        changelog rows after a rollback across a rebucket boundary.

        Properties are restored too — committed offsets, watermark, field
        map and index anchors describe the data they were committed with,
        so they roll back with it (a resumed engine then replays the
        rolled-past batches). Only the table-level refs (:meth:`tag`) keep
        their current values.
        """
        m = self.manifest
        old = LakeTable.load(self.path, version).manifest
        props = {k: v for k, v in old.properties.items() if not k.startswith(self._TAG_PREFIX)}
        props.update((k, v) for k, v in m.properties.items() if k.startswith(self._TAG_PREFIX))
        return self._commit(
            old.files,
            f"rollback:v{version}",
            properties_update=props,
            properties_drop=[k for k in m.properties if k not in props],
            schema_version=old.schema_version,
            bucket_col_override=(
                old.bucket_col if old.bucket_col != m.bucket_col else None
            ),
            num_buckets_override=(
                old.num_buckets if old.num_buckets != m.num_buckets else None
            ),
        )

    def expire_snapshots(self, keep_last: int = 2) -> dict[str, int]:
        """Retention GC (Iceberg ``expire_snapshots``): keep the newest
        ``keep_last`` snapshots plus every :meth:`tag`-pinned one, delete
        older manifests and every data file referenced ONLY by expired
        snapshots.

        Deletion order is crash-safe in the direction that matters: expired
        manifests are unlinked FIRST, so a crash mid-way leaves only orphaned
        data files, never a retained manifest with missing files. Only files
        referenced by an expired manifest are deletion candidates — data/
        is NOT swept, because a concurrent writer's files legitimately sit
        there before its manifest commit. No lock is needed: a concurrent
        commit references only its base's files (the head, which is always
        kept) or files it wrote itself, and the head check in
        :meth:`_publish` refuses a stale handle whose next version this
        expired. No new snapshot is created — like Iceberg, expiration is
        metadata cleanup, not a table mutation.
        """
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        versions = LakeTable._versions(self.path)
        keep = set(versions[-keep_last:])  # the head is always kept
        keep |= set(LakeTable.load(self.path).tags().values())  # tagged snapshots are pinned
        expired = [v for v in versions if v not in keep]
        retained_refs = LakeTable._refs(self.path, keep)
        expired_refs = LakeTable._refs(self.path, expired)
        for v in expired:
            try:
                os.unlink(os.path.join(self.path, "metadata", f"v{v}.json"))
            except FileNotFoundError:
                pass
        removed = 0
        for rel in sorted(expired_refs - retained_refs):
            try:
                os.unlink(os.path.join(self.path, rel))
                removed += 1
            except FileNotFoundError:
                pass
        return {
            "expired_snapshots": len(expired),
            "data_files_removed": removed,
            "retained_snapshots": len(keep & set(versions)),
        }

    def remove_orphan_files(self, older_than_s: float = 3 * 24 * 3600.0) -> dict[str, int]:
        """GC for files no manifest references (Iceberg
        ``remove_orphan_files``): a crashed writer's parquet (written before
        its manifest commit), or leftovers of an interrupted
        ``expire_snapshots``. The complement of expire — that deletes
        EXPIRED-referenced files, this deletes NEVER-referenced ones.

        Safety is the ``older_than_s`` grace period (Iceberg's default is
        also 3 days): a LIVE writer's files exist unreferenced between its
        parquet write and its manifest commit, so only files older than the
        grace window are eligible — a commit gap longer than that is a
        crashed writer, not a slow one. No lock is needed: a commit
        published mid-sweep references only its base's files, which are
        already in the reference set, or files it wrote inside the grace
        window.
        """
        referenced = LakeTable._refs(self.path, LakeTable._versions(self.path))
        cutoff = time.time() - older_than_s
        removed = scanned = 0
        for root, _dirs, fnames in os.walk(os.path.join(self.path, "data")):
            for fn in fnames:
                # only files a manifest could reference — never write-
                # protocol artifacts (_SUCCESS, .crc) of committed snaps
                if fn.startswith((".", "_")) or not fn.endswith(".parquet"):
                    continue
                p = os.path.join(root, fn)
                rel = os.path.relpath(p, self.path)
                scanned += 1
                if rel in referenced:
                    continue
                try:
                    if os.path.getmtime(p) <= cutoff:
                        os.unlink(p)
                        removed += 1
                except OSError:
                    continue  # racing writer finalized/moved it
        return {"files_scanned": scanned, "orphans_removed": removed}

    @staticmethod
    def _refs(path: str, versions) -> set:
        """The data files the given snapshots' manifests reference; a
        manifest an earlier or concurrent expire removed adds none."""
        out: set = set()
        for v in versions:
            try:
                with open(os.path.join(path, "metadata", f"v{v}.json")) as fh:
                    out |= {f["path"] for f in json.load(fh)["files"]}
            except FileNotFoundError:
                continue
        return out

    @staticmethod
    def _changed_buckets(from_m: Manifest, to_m: Manifest) -> list[int] | None:
        """Buckets whose FILE set differs between two snapshots — a superset
        of the buckets containing changed rows, because the bucket transform
        is on the row key and a bucket whose files are untouched is
        value-identical by construction. ``None`` = no pruning possible
        (unbucketed table, or the bucket layout itself changed)."""
        if (
            to_m.bucket_col is None
            or from_m.bucket_col != to_m.bucket_col
            or from_m.num_buckets != to_m.num_buckets
        ):
            return None
        old = {f["path"]: f["bucket"] for f in from_m.files}
        new = {f["path"]: f["bucket"] for f in to_m.files}
        touched = {b for p, b in new.items() if p not in old}
        touched |= {b for p, b in old.items() if p not in new}
        return sorted(touched)

    def read_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
        exclude: list[str] | None = None,
        row_filter=None,
        update_images: str = "post",
    ) -> DataFrame:
        """Incremental / changelog read (CDC *out* — Iceberg
        ``create_changelog_view`` analog): the NET row changes between two
        snapshots, as the ``to``-side schema plus a ``_change_type`` column
        (``insert`` / ``update`` / ``delete``; deletes carry the old image,
        the rest the new image).

        ``update_images="both"`` matches Iceberg's changelog convention for
        updates: each updated key emits TWO rows, ``update_preimage`` (old
        values) and ``update_postimage`` (new values), which is what additive
        downstream maintenance needs (retract the old contribution, add the
        new — see ``cdc/ivm.py``). The default ``"post"`` emits one
        ``update`` row carrying the new image.

        Semantics are state-diff, not event-log replay: a key upserted five
        times between the snapshots yields ONE update row; a key inserted
        and deleted within the interval yields nothing. Changelogs therefore
        compose — applying changes(v1,v2) then changes(v2,v3) to snapshot v1
        reproduces exactly the state changes(v1,v3) produces.

        Scale shape: both snapshots are read pruned to
        :meth:`_changed_buckets` — for an incremental (delta-append) commit
        interval that is the touched buckets only, so cost tracks the CHANGE
        volume, not the table. The classification itself is one full-outer
        join on the row key over those buckets. Old-snapshot rows are mapped
        to the to-side schema by field id first, so renames never surface as
        spurious updates.

        ``exclude`` drops bookkeeping columns from both the comparison and
        the output (the CDC engine passes its ``_seq``/``_deleted``);
        ``row_filter(df) -> df`` restricts both sides to the logical live
        view before diffing (the engine filters tombstones). Tables with no
        ``row_key`` diff on the whole row and emit insert/delete only.
        """
        m = self.manifest
        to_v = m.version if to_version is None else to_version
        if from_version > to_v:
            raise ValueError(f"from_version {from_version} > to_version {to_v}")
        to_tbl = self if to_v == m.version else LakeTable.load(self.path, to_v)
        from_tbl = LakeTable.load(self.path, from_version)
        buckets = self._changed_buckets(from_tbl.manifest, to_tbl.manifest)
        # state-preserving interval: if every commit in (from, to] is a
        # compaction / properties write, the diff is empty BY CONSTRUCTION
        # (compact's contract: resolved row set unchanged) — skip the
        # bucket reads a compaction would otherwise force us to re-diff
        ops = {
            h.get("operation", "?")
            for h in to_tbl.manifest.history
            if from_version < h["version"] <= to_v
        }
        if ops and all(o == "compact" or o == "set_properties" for o in ops):
            buckets = []
        if buckets == []:  # pure-metadata interval (schema/properties only)
            out_fields = [
                f for f in to_tbl.manifest.current_fields
                if not (exclude and f.name in exclude)
            ]
            empty = T.StructType(
                [T.StructField(f.name, _spark_type(f.type), True) for f in out_fields]
                + [T.StructField("_change_type", T.StringType(), True)]
            )
            return spark.createDataFrame([], empty)

        new_df = to_tbl.read(spark, buckets=buckets)
        old_df = from_tbl.read(spark, buckets=buckets)
        # field-id alignment of the old snapshot onto the to-side schema
        old_by_id = {f.id: f for f in from_tbl.manifest.current_fields}
        aligned = []
        for f in to_tbl.manifest.current_fields:
            o = old_by_id.get(f.id)
            if o is not None:
                aligned.append(F.col(o.name).cast(_spark_type(f.type)).alias(f.name))
            else:
                aligned.append(F.lit(None).cast(_spark_type(f.type)).alias(f.name))
        old_df = old_df.select(*aligned)
        if row_filter is not None:
            new_df = row_filter(new_df)
            old_df = row_filter(old_df)
        drop = set(exclude or [])
        out_cols = [f.name for f in to_tbl.manifest.current_fields if f.name not in drop]
        new_df = new_df.select(*out_cols)
        old_df = old_df.select(*out_cols)

        key = to_tbl.manifest.row_key
        if key is None or key in drop:
            ins = new_df.exceptAll(old_df).withColumn("_change_type", F.lit("insert"))
            dels = old_df.exceptAll(new_df).withColumn("_change_type", F.lit("delete"))
            return ins.unionByName(dels)

        if update_images not in ("post", "both"):
            raise ValueError(f"update_images must be 'post' or 'both', got {update_images!r}")
        val_cols = [c for c in out_cols if c != key]
        n = new_df.withColumn("_n_present", F.lit(True)).alias("n")
        o = old_df.withColumn("_o_present", F.lit(True)).alias("o")
        joined = n.join(o, on=key, how="full_outer")
        differs = F.lit(False)
        for c in val_cols:
            differs = differs | ~F.col(f"n.{c}").eqNullSafe(F.col(f"o.{c}"))
        ctype = (
            F.when(F.col("o._o_present").isNull(), F.lit("insert"))
            .when(F.col("n._n_present").isNull(), F.lit("delete"))
            .when(differs, F.lit("update"))
        )
        if update_images == "post":
            image = [
                F.when(ctype == "delete", F.col(f"o.{c}"))
                .otherwise(F.col(f"n.{c}"))
                .alias(c)
                for c in val_cols
            ]
            return (
                joined.withColumn("_change_type", ctype)
                .filter(F.col("_change_type").isNotNull())
                .select(key, *image, "_change_type")
            )
        # "both": one classified row per key, then explode updates into
        # (preimage, postimage) pairs — a single generator projection, no
        # second join. Each emitted element carries its own image+label.
        pre = F.struct(
            *[F.col(f"o.{c}").alias(c) for c in val_cols],
            F.lit("update_preimage").alias("_change_type"),
        )
        post = F.struct(
            *[F.col(f"n.{c}").alias(c) for c in val_cols],
            F.lit("update_postimage").alias("_change_type"),
        )
        ins = F.struct(
            *[F.col(f"n.{c}").alias(c) for c in val_cols],
            F.lit("insert").alias("_change_type"),
        )
        del_ = F.struct(
            *[F.col(f"o.{c}").alias(c) for c in val_cols],
            F.lit("delete").alias("_change_type"),
        )
        # unchanged keys fall through every when() to NULL; explode(NULL)
        # emits no rows, which IS the filter
        rows = (
            F.when(ctype == "insert", F.array(ins))
            .when(ctype == "delete", F.array(del_))
            .when(ctype == "update", F.array(pre, post))
        )
        exploded = joined.select(F.col(key), F.explode(rows).alias("_ch"))
        return exploded.select(
            key,
            *[F.col(f"_ch.{c}").alias(c) for c in val_cols],
            F.col("_ch._change_type").alias("_change_type"),
        )

    # ------------------------------------------------------------- internals

    @staticmethod
    def _versions(path: str) -> list[int]:
        """The published snapshot versions, ascending: every
        ``metadata/v{N}.json``. The last one is the head."""
        try:
            names = os.listdir(os.path.join(path, "metadata"))
        except FileNotFoundError:
            return []
        return sorted(
            int(fn[1:-5])
            for fn in names
            if fn.startswith("v") and fn.endswith(".json") and fn[1:-5].isdigit()
        )

    @staticmethod
    def _write_temp(path: str, m: Manifest) -> str:
        """Write ``m`` to a durable temp manifest that no listing matches."""
        tmp = os.path.join(path, "metadata", f"v{m.version}.json.tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as fh:
            json.dump(m.to_json(), fh)
            fh.flush()
            os.fsync(fh.fileno())  # durable before any reader can see it
        return tmp

    @staticmethod
    def _publish(path: str, m: Manifest) -> None:
        """The commit point: create ``metadata/v{m.version}.json`` if absent.

        The head must still be the base ``m.version - 1`` (-1 for
        :meth:`create`); that check refuses a stale handle even when its next
        version number was expired. Two committers past the check race on
        ``os.link``, which creates the name atomically for exactly one of
        them; the other gets ``EEXIST``. Either way the loser raises and the
        head is untouched. The check and the link are two steps: a version
        expired between them (which takes two newer commits and an expire
        inside that window) can be re-created below the head, where it is
        never loaded as current and the committer's next commit is refused.
        """
        lost = RuntimeError(f"concurrent commit detected on {m.table}: refresh() and retry")
        if (LakeTable._versions(path) or [-1])[-1] != m.version - 1:
            raise lost
        mdir = os.path.join(path, "metadata")
        tmp = LakeTable._write_temp(path, m)
        try:
            os.link(tmp, os.path.join(mdir, f"v{m.version}.json"))
        except FileExistsError:
            raise lost from None
        finally:
            os.unlink(tmp)
        dfd = os.open(mdir, os.O_RDONLY)
        try:
            os.fsync(dfd)  # persist the new name across crashes
        finally:
            os.close(dfd)

    def drop(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def state_hash(df: DataFrame, exclude: list[str] | None = None) -> int:
    """Order-insensitive content hash of a DataFrame — the byte-identical
    final-state verifier (reference MINUS-reconciliation analog,
    ``/root/reference/Sql Scripts/mayrecon_process.sql:129-132``).

    Canonicalizes every row to a string (sorted column order, NULL sentinel),
    hashes with xxhash64, and sums in a single aggregate — associative and
    commutative, hence invariant to partitioning, parallelism, and row order.
    """
    cols = sorted(c for c in df.columns if not (exclude and c in exclude))
    canon = F.concat_ws(
        "\x01", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]
    )
    row = df.select(F.xxhash64(canon).alias("h"))
    out = row.agg(F.sum(F.col("h").cast("decimal(38,0)")).alias("s")).collect()[0]["s"]
    return int(out) if out is not None else 0
