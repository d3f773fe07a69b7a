"""The CDC engine: deterministic micro-batched replay of a change ledger into
a lake table, exactly-once, with per-partition checkpoints and metrics.

Lifecycle per batch (SURVEY.md §3.4), merge-on-read:

    changes ledger (LakeTable), head reloaded per run()         [source]
      → slice per-part offset range (cp[p], cp[p]+batch_size],
        skipping seq gaps no ledger file's stats cover          [plan; file-stats pruning]
      → LWW winner keys over a (url, warc_ts, seq) projection:
        one key exchange, one combining MAX reduce, any skew;
        winners' seqs broadcast back as a map-side semi-join     [shuffle 1: keys only]
      → ONE fused pandas/Arrow UDF: html → (text, lang) on
        surviving rows only                                      [transform]
      → append_deltas commit: survivors land as per-bucket
        DELTA files, offsets in the same manifest — one payload
        job/batch, O(batch) bytes written, no old-state read    [exactly-once]
      → per-part stats from ledger metadata (dense-seq closed
        form) + survivor-side observe() on the same job         [observability]
      → reads LWW-resolve base+delta; compact() folds deltas
        back into base on the operator's cadence                [read path]

Exactly-once: publishing the batch's manifest ``v{N+1}`` by atomic
create-if-absent (LakeTable._publish) is the commit point, and the committed
offsets ride in the same manifest (the reference needed a rename-swap publish
+ anti-join guard + high-water-mark table to approximate this —
``/root/reference/Sql Scripts/FCT_RESERVATION_UPD.sql:255-256``,
``FCT_ERBRESERVATION.sql:229-231``,
``RestaurantDetails_Marta_v11_06152015.sql:153-155``). A crash between
batches resumes from the committed offsets; a crash mid-batch leaves the old
snapshot visible and the batch re-runs identically (deterministic slicing +
deterministic reduce ⇒ identical result).

Tail: :meth:`CdcEngine.run` is the one loop for replay and tail alike. Each
call reloads the ledger head, so calling it again on a long-lived handle
applies whatever the ledger has committed since; it reads only files a
ledger manifest lists, so a writer's uncommitted parquet is never applied.

Deletes are kept as **tombstones** (``_deleted=true`` with the delete's
version) rather than physically removed: a late update older than an applied
delete must stay dead regardless of how the replay was batched — tombstones
make final state independent of batch boundaries and parallelism, which is
the north rule's byte-identical-at-N-and-4N criterion.

Scale posture: per-batch cost is O(batch), never O(table) — the delta
commit reads no old state, LWW runs as hash aggregation (no window sort) whose
MAX reduce is exact under any key skew without a second plan, and the only
Python in the hot path is the Arrow-batched extractor on post-dedup
survivors.
"""

from __future__ import annotations

import json
import logging
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..lake import LakeTable
from ..lake.table import quote_format_ident, quote_ident
from . import evolve
from .dedup import lww_dedup, lww_dedup_broadcast_keys
from .extract import extract_enrich_udf, extract_text_udf
from .metrics import MetricsTable
from .checkpoint import CheckpointsTable
from .schedule import ScheduleTable

INTERNAL_COLS = ("_seq", "_deleted")
CHECKPOINTS_PROP = "checkpoints"
BATCH_PROP = "last_batch_id"
LEDGER_VERSION_PROP = "ledger_version"  # ledger snapshot the last batch was planned on
WM_PROP = "wm_high"  # committed event-time high-water-mark (monotone watermark)

log = logging.getLogger(__name__)

# Adaptive extract placement (see _transform_and_merge): post-exchange
# extraction is chosen when each write task gets at least this many rows —
# ~45ms of vectorized extract work per task, amortizing the per-task
# python-worker handshake (~5ms) to noise. Below it, a fine-grained bucket
# layout would pay more in python task startup than the text shuffle saves.
_POST_SHUFFLE_MIN_ROWS_PER_TASK = 5_000

# Largest batch (exact input row count — an upper bound on its winner count)
# for which dedup_plan="auto" broadcasts the winner seqs. Winner seqs
# broadcast at ~8B each plus hash-relation overhead, so 4M keys is a ~100MB
# relation on the driver and every executor — inside default memory; larger
# batches recover rows by the shuffle-hash join-back instead.
_BROADCAST_MAX_ROWS = 4_000_000


class _Timer:
    """Phase timer: each mark logs the phase's wall time at DEBUG level."""

    def __init__(self, label: str):
        self.label = label
        self.t = time.monotonic()

    def mark(self, phase: str) -> None:
        now = time.monotonic()
        log.debug("TIMING %s %s: %.2fs", self.label, phase, now - self.t)
        self.t = now


@dataclass
class EngineConfig:
    ledger_path: str
    pages_path: str
    # Width of the per-part seq window advanced each batch. seq is a GLOBAL
    # monotone id (each seq value lands in exactly one part), so the total
    # events per batch across all parts ≈ batch_size.
    batch_size: int = 1_000_000
    num_buckets: int = 16
    files_per_bucket: int = 1
    # Accepted and IGNORED: hot-key detection and the salted (url, salt)
    # reduce they configured are gone — every batch takes the one unsalted
    # winner reduce (cdc/dedup.py _winner_ties_sql; SCALE.md, Skew). Kept so
    # existing configs and benchmark scripts still construct.
    salt_k: int = 16
    hot_threshold: int = 1_000_000
    hot_detect_every: int = 16
    # dedup row recovery (the winner law is the same either way):
    # - "broadcast_keys": winner selection runs over a (url, warc_ts, seq)
    #   projection — the shuffle carries tens of bytes/row instead of the
    #   html payload — and winners' seqs broadcast back as a map-side
    #   semi-join filter. Payload rows are never exchanged before the bucket
    #   write.
    # - "full_shuffle": full rows recovered by the shuffle-hash join-back on
    #   (url, seq) — any batch size.
    # - "auto": broadcast_keys when the batch's exact row count (ledger
    #   metadata / scanned stats — NOT cfg.batch_size, which bounds only the
    #   deterministic loop's slices) is ≤ _BROADCAST_MAX_ROWS, else
    #   full_shuffle.
    dedup_plan: str = "auto"
    # Fold deltas into base files every N batches (0 = only on demand
    # via engine.compact()). Compaction is a pure layout change — state_hash
    # is invariant to cadence — trading a periodic O(table-with-deltas)
    # rewrite for bounded read amplification. Default 32 keeps deltas-per-
    # bucket at ~tens (SCALE.md): a production tail that never calls
    # compact() must not accumulate unbounded read amplification. The
    # per-batch `max_deltas_per_bucket` metric tracks it.
    compact_every_batches: int = 32
    # drop events older than the watermark: cutoff = (max warc_ts observed
    # in PRIOR batches) - delay, Structured Streaming's own law (the
    # watermark advances one trigger behind event time). The max rides the
    # apply job's observation — ZERO extra passes — and is committed in the
    # manifest, so a cold resume restores the same cutoffs
    # deterministically. The first batch of a fresh table is unfiltered.
    watermark_delay_s: int | None = None
    # flush the observational metrics/checkpoints mirror tables every N
    # batches (and at end of run). The authoritative offsets are inside the
    # data commit; the mirrors are lineage queries, so batching their writes
    # trades at most N batches of mirror rows on crash for fewer mirror
    # commits (each flush is a driver-side pyarrow append plus one manifest
    # publish per mirror — cdc/driverio.py).
    mirror_flush_batches: int = 8
    # declared cadence recorded in the _schedule registry after each run()
    # (the reference's "Schedule Frequency" metadata: daily | monthly |
    # on_demand | run_time | cron:<expr> — free-form, purely observational)
    schedule_frequency: str = "on_demand"
    # snapshot retention: after each run(), expire all but the newest N
    # pages-table snapshots (0 = keep everything — replay/debug mode).
    # Bounds metadata at O(N x files) for a long-lived tail; final state and
    # resume are unaffected (offsets live in the current manifest). Size N
    # to cover downstream changelog/IVM consumers' refresh cadence.
    retain_snapshots: int = 0


class CdcEngine:
    def __init__(self, spark: SparkSession, cfg: EngineConfig):
        self.spark = spark
        self.cfg = cfg
        self.ledger = LakeTable.load(cfg.ledger_path)
        if LakeTable.exists(cfg.pages_path):
            self.pages = LakeTable.load(cfg.pages_path)
        else:
            self.pages = self._create_pages()
        self.metrics = MetricsTable.open(cfg.pages_path + "_metrics")
        self.checkpoints = CheckpointsTable.open(cfg.pages_path + "_checkpoints")
        self.schedule = ScheduleTable.open(cfg.pages_path + "_schedule")
        self._pending_metrics: list[dict] = []
        self._pending_checkpoints: list[tuple[int, dict[int, int]]] = []
        # monotone-watermark state: max event time observed by applied
        # batches. _transform_and_merge persists it with a set_properties
        # commit right after each batch, so the next batch's cutoff depends
        # only on committed state and a cold resume replays the identical
        # cutoffs
        self._wm_track = cfg.watermark_delay_s is not None
        self._wm_pending = None

    # ------------------------------------------------------------------ setup

    def _create_pages(self) -> LakeTable:
        cols: list[tuple[str, str]] = []
        for f in evolve.payload_fields(self.ledger):
            cols.append((f.name, f.type))
            if f.name == "html":
                cols.append(("text", "string"))
        cols += [("_seq", "bigint"), ("_deleted", "boolean")]
        return LakeTable.create(
            self.cfg.pages_path,
            schema=cols,
            bucket_col="url",
            num_buckets=self.cfg.num_buckets,
            # merge-on-read resolution law == the engine's LWW law: one live
            # row per url, greatest (warc_ts, _seq) wins
            row_key="url",
            version_cols=["warc_ts", "_seq"],
            properties={
                CHECKPOINTS_PROP: "{}",
                BATCH_PROP: "0",
                evolve.FIELD_MAP_PROP: json.dumps(
                    evolve.initial_field_map(self.ledger), sort_keys=True
                ),
            },
        )

    # ------------------------------------------------------------------ state

    def committed_offsets(self) -> dict[int, int]:
        raw = json.loads(self.pages.manifest.properties.get(CHECKPOINTS_PROP, "{}"))
        return {int(k): int(v) for k, v in raw.items()}

    def last_batch_id(self) -> int:
        return int(self.pages.manifest.properties.get(BATCH_PROP, "0"))

    def read_pages(self, spark: SparkSession | None = None) -> DataFrame:
        """The user-facing view: live rows, internal columns hidden."""
        df = self.pages.read(spark or self.spark)
        cols = ", ".join(
            quote_format_ident(f.name)
            for f in self.pages.manifest.current_fields
            if f.name not in INTERNAL_COLS
        )
        return df.sparkSession.sql(f"SELECT {cols} FROM {{df}} WHERE NOT _deleted", df=df)

    def refresh_pages(self) -> DataFrame:
        """Reload the table head, then read (for observers of a table
        another handle has been committing to)."""
        self.pages = self.pages.refresh()
        return self.read_pages()

    def changelog(
        self,
        from_version: int,
        to_version: int | None = None,
        update_images: str = "post",
    ) -> DataFrame:
        """CDC *out*: the net live-row changes of the pages table between two
        of its snapshots, as user-facing columns + ``_change_type``
        (insert/update/delete) — what a downstream consumer (an index
        maintainer, a mirror warehouse, the reference's incremental-feed
        subscribers) tails instead of re-reading the table.

        Engine conventions applied on top of :meth:`LakeTable.read_changes`:
        tombstones are filtered to the live view on BOTH sides (so an
        in-interval insert+delete nets to nothing and a delete of a live key
        surfaces as ``delete`` carrying the last live image), and the
        bookkeeping columns (``_seq``/``_deleted``) are excluded from the
        comparison — an upsert that rewrote identical values is not an
        update. Snapshot-diff semantics: changelogs over adjacent intervals
        compose to the whole interval's changelog.
        """
        def live(df: DataFrame) -> DataFrame:
            if "_deleted" in df.columns:
                return df.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
            return df

        return self.pages.read_changes(
            self.spark,
            from_version,
            to_version,
            exclude=list(INTERNAL_COLS),
            row_filter=live,
            update_images=update_images,
        )

    def _ledger_stats_fresh(self) -> bool:
        """True when the ledger writer's table-level stats are usable: a
        ``stats_files`` stamp matching the current manifest's file count.
        Any append after the stats were computed changes the count, so stale
        high-water marks can never silently stop a replay short of new data
        (they fall back to the scan instead)."""
        props = self.ledger.manifest.properties
        stamp = props.get("stats_files")
        return stamp is not None and int(stamp) == len(self.ledger.manifest.files)

    def _ledger_max_seq_per_part(self) -> dict[int, int]:
        # fast path: table-level high-water-mark stats maintained by the
        # ledger writer (generator); falls back to a column-pruned scan
        prop = self.ledger.manifest.properties.get("max_seq_per_part")
        if prop and self._ledger_stats_fresh():
            return {int(k): int(v) for k, v in json.loads(prop).items()}
        rows = (
            self.ledger.read(self.spark)
            .groupBy("part")
            .agg(F.max("seq").alias("mx"))
            .collect()
        )
        return {int(r["part"]): int(r["mx"]) for r in rows}

    # ------------------------------------------------------------------- run

    def run(self, max_batches: int | None = None) -> int:
        """Replay until the ledger is exhausted (or max_batches). Returns the
        number of batches applied in this call.

        This is also the tail: each call first reloads the ledger head, so a
        later call on the same handle applies whatever the ledger has
        committed since. Only manifest-listed files are read, columns map by
        field id (LakeTable.read), and the offsets committed with each batch
        make the apply exactly-once."""
        self.ledger = self.ledger.refresh()
        self._check_ledger_appends()
        max_seq = self._ledger_max_seq_per_part()
        applied = 0
        try:
            while max_batches is None or applied < max_batches:
                if not self.run_one_batch(max_seq):
                    break
                applied += 1
                if (
                    self.cfg.compact_every_batches
                    and self.last_batch_id() % self.cfg.compact_every_batches == 0
                ):
                    self.compact()
            # retention GC: a production tail commits one manifest per batch
            # and each manifest lists every live file, so metadata grows
            # O(batches x files) unless bounded. Post-loop (not per-batch) so
            # a replay's intermediate snapshots stay time-travelable while it
            # runs; state is unaffected (expiration never touches the live
            # snapshot — test_retention_bounds_metadata). Downstream
            # changelog/IVM consumers must be given a keep_last covering
            # their refresh cadence, or they pay one recompute (ivm.py
            # fallback).
            if applied and self.cfg.retain_snapshots:
                self.pages.expire_snapshots(keep_last=self.cfg.retain_snapshots)
        finally:
            self.flush_mirrors()
            # cadence registry: one observational row per run (driver-side
            # append, no Spark job) — process identity + declared frequency
            # + completion time, the reference's Schedule-Frequency surface.
            # Best-effort by contract (schedule.py: "the data path's
            # exactly-once guarantee never depends on it"): a failure here
            # (e.g. a publish race lost to a concurrent process) must
            # neither mask an in-flight data-path exception nor fail an
            # otherwise-successful run.
            try:
                self.schedule.record(
                    os.path.basename(self.cfg.pages_path.rstrip("/")),
                    self.cfg.schedule_frequency,
                    applied,
                )
            except (OSError, RuntimeError) as e:
                log.warning("schedule registry write skipped: %s", e)
        return applied

    def _check_ledger_appends(self) -> None:
        """Refuse a ledger file committed since the last planned batch whose
        stats start at or below a committed offset: the slices have already
        passed its seqs, so run() would silently never apply them. Manifest
        reads only. A file without stats, or a planned-on ledger snapshot
        that is no longer retained, cannot be checked."""
        raw = self.pages.manifest.properties.get(LEDGER_VERSION_PROP)
        if raw is None or int(raw) == self.ledger.manifest.version:
            return
        try:
            planned = LakeTable.load(self.ledger.path, int(raw)).manifest.files
        except ValueError:
            return
        seen = {f["path"] for f in planned}
        top = max(self.committed_offsets().values(), default=0)
        for f in self.ledger.manifest.files:
            st = f.get("stats")
            if st and f["path"] not in seen and st["min_seq"] <= top:
                raise ValueError(
                    f"ledger file {f['path']} (seq {st['min_seq']}..{st['max_seq']}) "
                    f"was committed after the replay passed seq {top}; "
                    "its rows at or below the committed offsets would never be applied"
                )

    def _first_seq_above(self, cp: int) -> int:
        """The first seq above offset ``cp`` that some ledger file's stats
        cover. A slice starts there, so a seq gap wider than batch_size is
        crossed in one batch instead of one empty slice at a time. Any file
        without stats could hold any seq, and keeps the start at cp + 1."""
        stats = [f.get("stats") for f in self.ledger.manifest.files]
        if not all(stats):
            return cp + 1
        above = (max(st["min_seq"], cp + 1) for st in stats if st["max_seq"] > cp)
        return min(above, default=cp + 1)

    def compact(self, buckets: list[int] | None = None) -> None:
        """Fold merge-on-read delta files into base files (pure layout
        change; state_hash invariant — see LakeTable.compact)."""
        self.pages = self.pages.compact(
            self.spark, buckets=buckets, files_per_bucket=self.cfg.files_per_bucket
        )

    def flush_mirrors(self) -> None:
        """Write buffered lineage rows to the mirror tables."""
        if self._pending_metrics:
            self.metrics.append(self.spark, self._pending_metrics)
            self._pending_metrics = []
        if self._pending_checkpoints:
            self.checkpoints.record_many(self.spark, self._pending_checkpoints)
            self._pending_checkpoints = []

    def run_one_batch(self, max_seq: dict[int, int] | None = None) -> bool:
        cfg = self.cfg
        t0 = time.monotonic()
        if max_seq is None:
            max_seq = self._ledger_max_seq_per_part()
        cps = self.committed_offsets()
        targets: dict[int, int] = {}
        for p, mx in max_seq.items():
            cp = cps.get(p, 0)
            if cp < mx:
                targets[p] = min(self._first_seq_above(cp) - 1 + cfg.batch_size, mx)
        if not targets:
            return False
        batch_id = self.last_batch_id() + 1

        # schema sync (ledger may have evolved since the last batch)
        self.pages = evolve.sync_schema(self.ledger, self.pages)

        # ---- source: offset-range slice with manifest file-stats pruning
        lo = min(cps.get(p, 0) for p in targets)
        hi = max(targets.values())

        def overlaps(entry: dict) -> bool:
            st = entry.get("stats")
            if not st:
                return True
            return st["max_seq"] > lo and st["min_seq"] <= hi

        raw = self.ledger.read(self.spark, file_filter=overlaps)
        events = raw.filter(self._batch_predicate(cps, targets))

        events = self._apply_watermark(events)

        tm = _Timer(f"batch{batch_id}")
        # ---- transform + apply + atomic commit (input/output stats observed
        # on the same job — no separate stats passes)
        new_cps = {**cps, **targets}
        instats, mstats = self._transform_and_merge(
            events,
            properties_update={
                CHECKPOINTS_PROP: json.dumps({str(k): v for k, v in sorted(new_cps.items())}),
                BATCH_PROP: str(batch_id),
                LEDGER_VERSION_PROP: str(self.ledger.manifest.version),
            },
            tm=tm,
            parts=sorted(targets),
            input_counts=self._dense_input_counts(cps, targets),
        )

        # ---- observability (buffered; authoritative offsets are in the commit)
        wall_ms = int((time.monotonic() - t0) * 1000)
        self._pending_metrics.extend(
            self._metric_rows(batch_id, sorted(targets), instats, mstats, wall_ms)
        )
        self._pending_checkpoints.append((batch_id, targets))
        if len(self._pending_checkpoints) >= self.cfg.mirror_flush_batches:
            self.flush_mirrors()
        tm.mark("metrics+checkpoints")
        return True

    # ------------------------------------------------------- transform/merge

    @staticmethod
    def _batch_predicate(cps: dict[int, int], targets: dict[int, int]) -> str:
        """The offset-range slice predicate, as SQL text.

        General form is a per-part disjunction — 3 comparisons × |parts|
        per row, which at 32 parts is ~100 row-ops on the scan's hot path.
        The overwhelmingly common case (all advancing parts share the same
        committed offset and the same seq ceiling, i.e. parts move in
        lockstep through a dense global seq) collapses to two comparisons
        plus a part-membership check — same rows, ~30x cheaper per row.
        """
        lo_set = {cps.get(p, 0) for p in targets}
        if len(lo_set) == 1:
            lo = lo_set.pop()
            hi = max(targets.values())
            # sound because run_one_batch builds t_p = min(s - 1 + bs, max_p)
            # with one slice start s per offset (_first_seq_above): a part
            # whose ceiling is below hi simply HAS no rows above it,
            # and parts absent from targets (exhausted at a different
            # offset) are excluded by the membership check
            parts = ", ".join(str(p) for p in targets)
            return f"seq > {lo} AND seq <= {hi} AND part IN ({parts})"
        return " OR ".join(
            f"(part = {p} AND seq > {cps.get(p, 0)} AND seq <= {tgt})"
            for p, tgt in sorted(targets.items())
        )

    @staticmethod
    def _observed(vals: dict, key: str) -> int:
        """Read one metric from an already-fetched Observation dict.

        ``Observation.get`` is a py4j round trip + full-row pickle on EVERY
        access; with ~3x|parts| observed aggregates per batch, per-metric
        access cost ~4s of pure driver-serial time per batch (profiled at
        local[32]). Callers fetch ``obs.get`` once and index the dict."""
        v = vals.get(key)
        return int(v) if v is not None else 0

    def _committed_wm(self):
        import datetime as _dt

        raw = self.pages.manifest.properties.get(WM_PROP)
        return _dt.datetime.fromisoformat(raw) if raw else None

    def _apply_watermark(self, events: DataFrame) -> DataFrame:
        """Late-data filter against the committed event-time high-water-mark
        — Structured Streaming's own law, zero extra passes (the max rides
        the apply job's observation and is persisted in the following
        commit)."""
        wm = self._committed_wm() if self._wm_track else None
        if wm is None:
            return events
        cutoff = F.lit(wm) - F.expr(f"INTERVAL {self.cfg.watermark_delay_s} SECONDS")
        return events.filter(F.col("warc_ts") >= cutoff)

    def _dense_input_counts(self, cps: dict[int, int], targets: dict[int, int]):
        """Exact per-part input counts from ledger metadata, when possible.

        A ledger whose writer declares ``dense_seq=modulo`` (every seq value
        exists exactly once; part = seq % n_parts) makes events_in(p) for the
        slice (cp_p, t_p] a closed form — no need to burn ~|parts| aggregate
        expressions per row on the 10-100x-larger pre-dedup scan just to
        count it. Returns None (→ observe on the scan) when the property is
        absent or a watermark filter makes the count data-dependent.
        """
        props = self.ledger.manifest.properties
        if (
            props.get("dense_seq") != "modulo"
            or not self._ledger_stats_fresh()
            or self.cfg.watermark_delay_s is not None
        ):
            return None
        k = int(props["n_parts"])
        return {
            p: (t - p) // k - (cps.get(p, 0) - p) // k for p, t in targets.items()
        }

    def _transform_and_merge(
        self,
        events: DataFrame,
        properties_update: dict[str, str],
        tm: _Timer,
        parts: list[int],
        input_counts: dict[int, int] | None = None,
    ) -> tuple[dict[int, dict], dict]:
        """Dedup + extract + apply. Returns (instats, mstats), both computed
        with ``observe()`` on the batch's own job(s) — stats never add a
        driver-barrier pass over the events (round-1 cost: 2 extra O(batch)
        scans per batch). When ``input_counts`` is given (exact counts from
        ledger metadata, see _dense_input_counts) the pre-dedup scan carries
        NO observation at all; per-part byte accounting then rides the
        post-dedup survivor set (10-100x fewer rows) and reports bytes of
        APPLIED html rather than scanned html."""
        cfg = self.cfg
        payload_names = [f.name for f in evolve.payload_fields(self.ledger)]

        # ---- per-part input stats. An events-level observe() is NOT safe
        # here: the events subtree is evaluated by more than one action
        # (the broadcast-keys winner subtree, the write), and a
        # Spark Observation asserts on multiple updates. Ledgers that declare
        # dense-seq stats (input_counts) need no pass at all; others pay one
        # explicit column-pruned pre-aggregation.
        if input_counts is None:
            scanned_stats = {
                int(r["part"]): {
                    "events_in": int(r["events_in"]),
                    "bytes_html": int(r["bytes_html"] or 0),
                }
                for r in events.groupBy("part")
                .agg(
                    F.count("*").alias("events_in"),
                    F.sum(F.coalesce(F.length("html"), F.lit(0))).alias("bytes_html"),
                )
                .collect()
            }
            n_rows = sum(s["events_in"] for s in scanned_stats.values())
        else:
            n_rows = sum(input_counts.values())

        # ---- LWW dedup. "auto" gates the broadcast-keys plan on the ACTUAL
        # batch row count (ledger metadata or the scanned stats above), an
        # upper bound on the winner count — cfg.batch_size bounds a slice's
        # seq width, not its row count, and a forced broadcast of an
        # unbounded winner set is a driver/executor OOM hazard.
        use_bcast = cfg.dedup_plan == "broadcast_keys" or (
            cfg.dedup_plan == "auto" and n_rows <= _BROADCAST_MAX_ROWS
        )
        dedup = lww_dedup_broadcast_keys if use_bcast else lww_dedup
        deduped = dedup(events, key="url", order=("warc_ts", "seq"))

        # ---- transform: extract text on survivors only (Arrow-vectorized).
        # One FUSED pandas UDF produces (text, lang) in a single Arrow round
        # trip (see extract_enrich_udf) — chaining two scalar UDFs would ship
        # the extracted text back to the JVM and out to a second python
        # worker again, doubling the payload transfer per batch. Delete rows
        # are masked JVM-side (null html / null lang in → null text/lang out),
        # and detection runs only where the feed carries no language.
        #
        # MoR applies the extraction AFTER the bucket exchange (the write
        # path's post_shuffle hook): only the source html crosses the
        # shuffle — the derived text column (comparable bytes) is computed
        # in the write tasks and never exchanged (guide §2.3/§8: move the
        # payload once, derive after the last shuffle; measured ~100MB less
        # shuffle write per 30M-event batch and the scan stage sheds its
        # python boundary entirely). The placement is ADAPTIVE (values are
        # identical either way — only the physical plan differs): the write
        # stage is exactly num_buckets x files_per_bucket tasks, each paying
        # a python-worker handshake, so a small batch spread over a
        # fine-grained layout (e.g. 100k events into 256 buckets) would pay
        # more in per-task python startup than the text shuffle it saves —
        # measured +15s on the 4x100k-event 256-bucket cdcout replay. Rows
        # per write task >= _POST_SHUFFLE_MIN_ROWS_PER_TASK (5k rows ~ 45ms
        # of extract work, amortizing the ~5ms handshake) picks post;
        # smaller batches extract before the exchange.
        lang_col = "language" if "language" in payload_names else "lang"
        has_lang = lang_col in payload_names

        def enrich(df: DataFrame, live: str) -> DataFrame:
            """``df`` with ``text`` (added, or replaced in place) and the
            language column extracted on rows where SQL ``live`` holds."""
            if not has_lang:
                return df.withColumn(
                    "text", F.when(F.expr(live), extract_text_udf(F.col("html")))
                )
            tx = extract_enrich_udf(
                F.expr(f"CASE WHEN {live} THEN html END"),
                F.expr(f"CASE WHEN {live} THEN {quote_ident(lang_col)} END"),
            )
            out = {"text": "_tx.text AS text", lang_col: f"_tx.lang AS {quote_ident(lang_col)}"}
            names = df.columns + ([] if "text" in df.columns else ["text"])
            return df.withColumn("_tx", tx).selectExpr(
                *[out.get(n, quote_ident(n)) for n in names]
            )

        page_fields = [f.name for f in self.pages.manifest.current_fields]

        write_tasks = max(cfg.num_buckets * cfg.files_per_bucket, 1)
        mstats, bytes_by_part = self._apply_mor(
            deduped,
            enrich,
            page_fields,
            properties_update,
            parts,
            tm,
            post_shuffle_extract=n_rows / write_tasks >= _POST_SHUFFLE_MIN_ROWS_PER_TASK,
        )

        if input_counts is not None:
            # exact counts from ledger metadata; bytes are of APPLIED html
            instats = {
                p: {
                    "events_in": int(input_counts.get(p, 0)),
                    "bytes_html": bytes_by_part.get(p, 0),
                }
                for p in parts
            }
        else:
            instats = {
                p: scanned_stats.get(p, {"events_in": 0, "bytes_html": 0})
                for p in parts
            }
        # monotone watermark: persist the event-time high-water-mark observed
        # on the apply job as a driver-side property commit (manifest write,
        # no Spark job). The NEXT batch's cutoff reads only committed state,
        # so a cold resume replays identical cutoffs. A crash in this tiny
        # window merely relaxes one batch's cutoff (fewer late drops) —
        # data exactly-once is untouched.
        if self._wm_track and self._wm_pending is not None:
            committed = self._committed_wm()
            if committed is None or self._wm_pending > committed:
                self.pages = self.pages.set_properties(
                    {WM_PROP: self._wm_pending.isoformat()}
                )
        return instats, mstats

    def _apply_mor(
        self,
        deduped: DataFrame,
        enrich,
        page_fields: list[str],
        properties_update: dict[str, str],
        parts: list[int],
        tm: _Timer,
        post_shuffle_extract: bool = True,
    ) -> tuple[dict, dict[int, int]]:
        """Merge-on-read apply: commit the batch's LWW survivors as delta
        files. No old-state read, no bucket discovery, no carried-row
        rewrite — ONE Spark job per batch, writing O(batch) bytes however
        large the table has grown. Late rows (older than the current live
        row) are stored and simply lose read-time resolution, so
        ``late_dropped`` is structurally 0 here and insert-vs-update is not
        split (MoR never looks at old state; metrics report ``upsert``).

        ``enrich`` (the UDF text extraction) runs via the write path's
        post_shuffle hook — after the bucket exchange, before the file
        write — so the derived text column never crosses the shuffle and
        the pre-exchange subtree stays pure JVM (scan → broadcast semi-join
        → exchange, no python boundary)."""
        cfg = self.cfg
        enriched = (
            deduped if post_shuffle_extract else enrich(deduped, "op != 'D'")
        )
        obs_out = Observation()
        # one F.expr per aggregate: building these ~3x|parts| conditional
        # sums out of Column operators costs ~15 py4j round trips EACH —
        # measured ~1s of pure driver time per batch at 32 parts. observe()
        # has no SQL form, and one struct aggregate would change the
        # CollectMetrics plan, so the texts stay one per aggregate.
        out_aggs = []
        for p in parts:
            out_aggs.append(
                F.expr(f"sum(case when part = {p} then 1 else 0 end) as surv_{p}")
            )
            out_aggs.append(
                F.expr(
                    f"sum(case when part = {p} and op = 'D' then 1 else 0 end) as del_{p}"
                )
            )
            out_aggs.append(
                F.expr(
                    f"sum(case when part = {p} then coalesce(length(html), 0) "
                    f"else 0 end) as by_{p}"
                )
            )
        if self._wm_track:
            # the batch's max event time survives dedup (the globally newest
            # event always wins its key), so observing it on the survivor set
            # equals the batch max — no pre-pass needed
            out_aggs.append(F.expr("max(warc_ts) as wm_max"))
        enriched = enriched.observe(obs_out, *out_aggs)

        val = {"_seq": "seq", "_deleted": "op = 'D'"}
        if post_shuffle_extract:
            # computed post-shuffle (see docstring); placeholder keeps the
            # delta schema-complete through the exchange
            val["text"] = "CAST(NULL AS STRING)"
        delta = enriched.selectExpr(
            *[f"{val.get(n, quote_ident(n))} AS {quote_ident(n)}" for n in page_fields]
        )
        n_files = len(self.pages.manifest.files)
        self.pages = self.pages.append_deltas(
            delta,
            properties_update=properties_update,
            files_per_bucket=cfg.files_per_bucket,
            post_shuffle=(
                (lambda df: enrich(df, "NOT _deleted"))
                if post_shuffle_extract
                else None
            ),
        )
        tm.mark("dedup+extract+delta_commit")

        # ONE py4j fetch (see _observed). A slice with no survivors writes
        # no file, and Spark may then skip the observed node entirely and
        # report no row: its counts are all zero.
        vals = obs_out.get if len(self.pages.manifest.files) > n_files else {}
        mstats: dict = {}
        bytes_by_part: dict[int, int] = {}
        for p in parts:
            d = self._observed(vals, f"del_{p}")
            s = self._observed(vals, f"surv_{p}")
            if s - d:
                mstats[(p, "upsert")] = s - d
            if d:
                mstats[(p, "delete")] = d
            bytes_by_part[p] = self._observed(vals, f"by_{p}")
        wm = vals.get("wm_max")
        if wm is not None and (self._wm_pending is None or wm > self._wm_pending):
            self._wm_pending = wm
        return mstats, bytes_by_part

    def _metric_rows(
        self,
        batch_id: int,
        parts: list[int],
        instats: dict[int, dict],
        mstats: dict,
        wall_ms: int,
    ) -> list[dict]:
        survivors_by_part: dict[int, int] = {}
        for (p, k), c in mstats.items():
            survivors_by_part[p] = survivors_by_part.get(p, 0) + c
        read_amp = self.read_amplification()
        rows = []
        for p in parts:
            ev_in = int(instats.get(p, {"events_in": 0})["events_in"] or 0)
            by = int(instats.get(p, {"bytes_html": 0})["bytes_html"] or 0)
            rows.append(
                {
                    "batch_id": batch_id,
                    "part": p,
                    "events_in": ev_in,
                    # merge-on-read never reads old state: insert-vs-update
                    # is not split (upserts count as updates) and late rows
                    # are stored, losing read-time resolution
                    "inserts": 0,
                    "updates": mstats.get((p, "upsert"), 0),
                    "deletes": mstats.get((p, "delete"), 0),
                    "dedup_dropped": ev_in - survivors_by_part.get(p, 0),
                    "late_dropped": 0,
                    "bytes_html": by,
                    "wall_ms": wall_ms,
                    "events_per_sec": (ev_in / (wall_ms / 1000.0)) if wall_ms else 0.0,
                    "max_deltas_per_bucket": read_amp,
                }
            )
        return rows

    def read_amplification(self) -> int:
        """Max MoR delta files stacked on any one bucket (driver-side
        manifest count — the metric `compact_every_batches` bounds)."""
        per_bucket: dict[int, int] = {}
        for f in self.pages.manifest.files:
            if f.get("kind", "base") == "delta":
                b = f["bucket"]
                per_bucket[b] = per_bucket.get(b, 0) + 1
        return max(per_bucket.values(), default=0)
