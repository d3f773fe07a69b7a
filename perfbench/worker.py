"""One benchmark run of one workload, in its own process and Spark session.

Started by ``run.py``; writes its result as JSON to ``--out``. The phases:

1. inputs: generate (or reuse from the cache) the seeded ledger;
2. set-up (``setup_s``): session start, pre-load, and warm-up operations
   of the workload's own kind, so that the measured operations run on a
   warm JVM;
3. measure for ``--seconds``: the workload's operations in whole cycles,
   each operation a commit followed by one aggregate read of the live view;
4. check, outside the timed work: the replays' (or the tail's final) state
   against a reference computed on another code path;
5. with ``--trace 1``: isolated calls into each layer, the 8 headline query
   leaves, and the Spark event log folded per span into per-layer numbers.

Peak resident memory of this process tree (the Python driver, its JVM and
the Python UDF workers) is sampled through set-up and measurement, not the
checks.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HEADLINE = [
    "a1_groupby_agg",
    "j6_range_join",
    "w2_lww_rank",
    "m2_cdc_lww_replay",
    "d2_dedup_ngram_jaccard",
    "d3_dedup_minhash_lsh",
    "d10_dedup_clusters",
    "v1_knn_bruteforce",
]

# Input sizes. "full" is what the benchmark measures; "smoke" is the toy
# size of the self-check. A full run, its fresh JVM included, takes under a
# minute on a 4-core host. The tail's ledger holds several times the ticks a
# run makes today, so a faster engine still fills ``--seconds``; should it
# run out anyway, the measurement stops at the last whole cycle it holds.
SIZES = {
    "full": {
        "bulk_events": 50_000,
        "cold_events": 5_000,
        "tail_preload": 20_000,
        "tail_batch": 1_000,
        "tail_batches": 40,
        "leaf_sf": 0.01,
    },
    "smoke": {
        "bulk_events": 20_000,
        "cold_events": 4_000,
        "tail_preload": 4_000,
        "tail_batch": 1_000,
        "tail_batches": 18,
        "leaf_sf": 0.002,
    },
}
# The tail compacts, and re-detects hot keys, once every TAIL_CYCLE batches
# (on two different ticks), so every whole cycle of ticks holds the same mix
# of work, and the plain ticks are more than half of it: the median tick is
# a plain one, not one on the edge between plain and maintenance ticks.
TAIL_CYCLE = 6
# Warm-up operations before the measured ones, so that the JIT has compiled
# the hot paths: three replays, the first of them small; three ticks, after
# the pre-load's cold commit.
WARMUP_OPS = {"bulk_replay": 3, "tail_mor": 3}
MIN_CYCLES = 2
YOUNG_GEN = "512m"  # fixed young generation of the driver heap
TAIL_HOT_THRESHOLD = 16  # the ledger's hot url passes this in every tail batch


# ------------------------------------------------------------- process tree


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _tree(root: int) -> list[tuple[int, str]]:
    """``root`` and its live descendants, as (pid, command name). A JVM's
    child still running the JVM's binary is left out: it is a spawn on its
    way to ``exec`` that shares the JVM's memory, not a process of its own
    (its name is that of the JVM thread that spawned it)."""
    procs: dict[int, tuple[int, str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                head, tail = fh.read().rsplit(")", 1)
            procs[int(d)] = (int(tail.split()[1]), head.split("(", 1)[1])
        except (OSError, IndexError, ValueError):
            continue
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        ppid, comm = procs.get(pid, (0, ""))
        if procs.get(ppid, (0, ""))[1] == "java" and _exe(pid) in (None, _exe(ppid)):
            continue
        out.append((pid, comm))
        todo.extend(children.get(pid, []))
    return out


def _memory_mb(procs: list[tuple[int, str]]) -> tuple[float, float]:
    """Resident memory of ``procs`` and the part of it held by JVMs. A JVM
    counts with its RSS; a Python process with its proportional set size,
    because the UDF workers are forked from one daemon and share its pages."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = jvm = 0
    for pid, comm in procs:
        try:
            if comm == "java":
                with open(f"/proc/{pid}/statm") as fh:
                    size = int(fh.read().split()[1]) * page
            else:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    size = next(int(line.split()[1]) for line in fh if line.startswith("Pss:")) * 1024
        except (OSError, IndexError, ValueError, StopIteration):
            continue
        total += size
        jvm += size if comm == "java" else 0
    return total / 2**20, jvm / 2**20


class RssSampler(threading.Thread):
    """Peak resident memory of this process's tree, sampled every 50 ms, and
    the peaks of its JVM and its Python parts."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak, self.peak_jvm, self.peak_py, self._stop_evt = 0.0, 0.0, 0.0, threading.Event()

    def run(self) -> None:
        while not self._stop_evt.wait(0.05):
            total, jvm = _memory_mb(_tree(os.getpid()))
            self.peak, self.peak_jvm = max(self.peak, total), max(self.peak_jvm, jvm)
            self.peak_py = max(self.peak_py, total - jvm)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak


# ---------------------------------------------------------------------- run


class Run:
    """State shared by the workloads: session, tracer, counters, result."""

    def __init__(self, args):
        self.args = args
        self.size = SIZES["smoke" if args.smoke else "full"]
        self.work = os.path.abspath(args.work)
        self.cache = os.path.join(self.work, "cache")
        self.scratch = os.path.join(self.work, f"run-{os.getpid()}")
        os.makedirs(self.cache, exist_ok=True)
        os.makedirs(self.scratch, exist_ok=True)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.notes: dict = {}
        self.spark = None
        self.tracer = None
        self.rss = RssSampler()
        self.phases: dict[str, float] = {}
        self._mark = time.perf_counter()

    def phase(self, name: str) -> None:
        """Record the wall time since the previous phase ended."""
        now = time.perf_counter()
        self.phases[name] = round(now - self._mark, 3)
        self._mark = now

    def start_session(self) -> float:
        """Start the Spark session and the RSS sampler; return the seconds
        the session took to start."""
        from data_warehouse_etl_spark.session import get_spark

        from spans import Tracer

        width = self.args.width
        conf = {
            "spark.driver.memory": self.args.driver_memory,
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
            # a fixed heap and young generation, neither touched in advance:
            # the heap's resident pages then follow the data the program
            # keeps, not when the collector chose to grow the heap
            "spark.driver.extraJavaOptions": f"-Xms{self.args.driver_memory} -Xmn{YOUNG_GEN} "
            f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            self.eventlog_dir = os.path.join(self.scratch, "eventlog")
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.eventlog_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.rss.start()
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{width}]",
            shuffle_partitions=width,
            extra_conf=conf,
        )
        self.spark.range(1).count()
        self.tracer = Tracer(self.spark, self.args.trace)
        start_s = time.perf_counter() - t0
        self.notes["session_start_s"] = round(start_s, 3)
        return start_s

    def warm_up(self, op) -> float:
        """Call ``op(i, False)`` as often as WARMUP_OPS says for the
        workload; return their summed wall."""
        durs = []
        for i in range(WARMUP_OPS[self.args.workload]):
            t = time.perf_counter()
            op(i, False)
            durs.append(time.perf_counter() - t)
        self.notes["warmup_s"] = [round(d, 3) for d in durs]
        return sum(durs)

    def measure(self, op, cycle: int = 1, max_ops: int | None = None) -> None:
        """Call ``op(i, True)`` in whole cycles of ``cycle`` calls until
        ``--seconds`` have passed, and for at least MIN_CYCLES cycles, but
        for no more than ``max_ops`` calls, the most the workload's inputs
        hold: the notes then say that the inputs ran out. Stops the RSS
        sampler."""
        self.notes["peak_rss_setup_mb"] = round(self.rss.peak, 1)
        t0 = time.perf_counter()
        i = n_cycles = 0
        while n_cycles < MIN_CYCLES or time.perf_counter() - t0 < self.args.seconds:
            if max_ops is not None and i + cycle > max_ops:
                self.notes["inputs_ran_out"] = True
                break
            for _ in range(cycle):
                op(i, True)
                i += 1
            n_cycles += 1
        self.metrics["peak_rss_mb"] = self.rss.stop()
        self.notes["peak_jvm_rss_mb"] = round(self.rss.peak_jvm, 1)
        self.notes["peak_py_rss_mb"] = round(self.rss.peak_py, 1)

    def op(self, measured: bool, fn, *a, **kw):
        """Run one operation. A measured operation is counted, and an
        exception fails it; in set-up an exception ends the run."""
        if not measured:
            return fn(*a, **kw)
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception:  # one failed operation must not end the run
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=6))
            return None

    def engine(self, ledger_path: str, pages: str, **cfg):
        from data_warehouse_etl_spark.cdc import CdcEngine, EngineConfig

        base = dict(num_buckets=self.args.width, batch_size=10**12, mirror_flush_batches=8)
        base.update(cfg)
        return CdcEngine(self.spark, EngineConfig(ledger_path=ledger_path, pages_path=pages, **base))

    def commit_and_read(self, name: str, tag: str, measured: bool, commit) -> dict:
        """One operation: ``commit()`` (which must apply a batch), then an
        aggregate over the live view (live rows per language). Each part
        runs under its own span; the record holds the spans and results."""
        from pyspark.sql import functions as F

        rec: dict = {"ok": False}

        def body():
            with self.tracer.span("engine.run") as rec["commit"]:
                rec["eng"] = commit()
                if rec["eng"] is None:
                    raise RuntimeError("the ledger ran out before the measurement ended")
            with self.tracer.span("lake.read_live") as rec["read"]:
                rec["rows"] = (
                    rec["eng"].read_pages().groupBy("language").agg(F.count("*").alias("n")).collect()
                )
            rec["ok"] = True

        with self.tracer.span(name, run=tag) as rec["span"]:
            self.op(measured, body)
        if rec["ok"]:
            # the layout the read saw, taken outside the operation's span
            rec["amp"] = rec["eng"].read_amplification()
            rec["scanned"] = scanned_rows(rec["eng"]) if self.args.trace else None
        return rec

    def check_state(self, eng, expected: str, what: str) -> bool:
        from data_warehouse_etl_spark.lake import state_hash

        got = str(state_hash(eng.read_pages()))
        if got != expected:
            self.errors.append(f"{what}: state_hash {got} != reference {expected}")
            return False
        return True

    def op_metrics(self, ops: list[dict], events_per_op: int, cycle: int = 1) -> None:
        """The end-to-end metrics every workload reports from the measured
        operations: throughput over the whole cycles whose operations all
        ran to the end, and the median commit and read."""
        cycles = [ops[i : i + cycle] for i in range(0, len(ops) - cycle + 1, cycle)]
        walls = [sum(r["span"]["dur"] for r in c) for c in cycles if all(r["ok"] for r in c)]
        done = [r for r in ops if r["ok"]]
        if not walls:
            raise RuntimeError("no whole cycle of measured operations ran to the end")
        self.metrics["events_per_s"] = events_per_op * cycle * len(walls) / sum(walls)
        self.metrics["commit_p50_s"] = statistics.median(r["commit"]["dur"] for r in done)
        self.metrics["read_p50_s"] = statistics.median(r["read"]["dur"] for r in done)
        self.notes.update(
            ops=len(ops),
            events_per_op=events_per_op,
            commit_s=[round(r["commit"]["dur"], 3) for r in done],
            read_s=[round(r["read"]["dur"], 3) for r in done],
        )


# ------------------------------------------------------------------ bulk_replay


def bulk_replay(run: Run) -> None:
    """Single-batch replays of one ledger, each into an empty table."""
    import inputs

    size = inputs.LedgerSize(run.size["bulk_events"])
    t = time.perf_counter()
    ledger = inputs.ledger(run.cache, size, run.args.seed)
    run.layers["gen.ledger_s"] = time.perf_counter() - t
    # the first warm-up replay, on a cold JVM, runs on a tenth of the events
    cold_ledger = inputs.ledger(run.cache, inputs.LedgerSize(run.size["cold_events"]), run.args.seed)
    run.phase("inputs")

    def replay(i: int, measured: bool) -> dict:
        tag = f"replay{i}" if measured else f"warm{i}"
        pages = os.path.join(run.scratch, f"pages-{tag}")

        def commit():
            eng = run.engine(ledger if measured or i else cold_ledger, pages)
            return eng if eng.run() else None

        rec = run.commit_and_read("replay", tag, measured, commit)
        rec["pages"] = pages
        if measured:
            replays.append(rec)
        else:
            shutil.rmtree(pages, ignore_errors=True)
        return rec

    replays: list[dict] = []
    start_s = run.start_session()
    run.metrics["setup_s"] = start_s + run.warm_up(replay)
    run.layers["session.start_s"] = start_s
    run.phase("setup")

    run.measure(replay)
    run.phase("measure")

    # ---- outside the timed work: every replay's read (live rows per
    # language) and the last replay's whole state against the reference
    ref = inputs.ledger_reference(run.spark, run.cache, size, run.args.seed, ledger)
    done = [r for r in replays if r["ok"]]
    for i, r in enumerate(replays):
        got = inputs.language_counts(tuple(row) for row in r["rows"]) if r["ok"] else None
        if got is not None and got != ref["languages"]:
            run.failed += 1
            run.errors.append(f"replay {i}: live rows per language {got} != reference {ref['languages']}")
    if done and not run.check_state(done[-1]["eng"], ref["hash"], "last replay"):
        run.failed += 1
    if run.args.smoke:
        run.notes["corruption_detected"] = corrupt_and_check(run, done[-1]["eng"], ref["hash"])
    run.phase("check")
    run.op_metrics(replays, size.n_events)

    if run.args.trace:
        # a replay commits one batch and never compacts: time one isolated
        # compaction of the last replay's table instead
        with run.tracer.span("engine.compact", run="layers") as sp:
            done[-1]["eng"].compact()
        trace_layers(run, replays, ledger, size, compact_s=[sp["dur"]])
    for r in replays:
        shutil.rmtree(r["pages"], ignore_errors=True)


def corrupt_and_check(run: Run, eng, expected: str) -> bool:
    """Overwrite one live row's text through a delta commit and confirm the
    output check now fails. True when the corruption was caught."""
    from pyspark.sql import functions as F

    victim = eng.pages.read(run.spark).filter(~F.col("_deleted")).limit(1)
    bad = victim.withColumn("text", F.lit("corrupted")).withColumn("_seq", F.col("_seq") + 10**12)
    eng.pages = eng.pages.append_deltas(bad.select(*eng.pages.schema().fieldNames()))
    caught = not run.check_state(eng, expected, "deliberately corrupted state")
    if caught:
        run.errors.pop()  # the expected mismatch is not a run error
    return caught


def trace_layers(run: Run, ops: list[dict], ledger: str, size, compact_s: list[float] | None = None) -> None:
    """Every per-layer number, from the workload's measured operations and
    from isolated calls made here: engine totals and the read path from the
    operations' spans, then dedup, extract and the lake writer on the
    workload's ledger, then the headline query leaves. ``compact_s`` are the
    compaction times when no measured operation compacted."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from data_warehouse_etl_spark.cdc import dedup, extract
    from data_warehouse_etl_spark.lake import LakeTable
    from spans import EventLog

    spark, tr = run.spark, run.tracer
    done = [r for r in ops if r["ok"]]
    # share of the operations' wall that their child spans (commit, read) cover
    run.notes["op_child_coverage"] = 1 - sum(tr.self_time(r["span"]["id"]) for r in done) / sum(
        r["span"]["dur"] for r in done
    )

    events = LakeTable.load(ledger).read(spark)
    order = ("warc_ts", "seq")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    with tr.span("dedup.winner_seqs", run="layers") as sp_ws:
        noop(dedup.winner_seqs(events, key="url", order=order))
    with tr.span("dedup.broadcast_keys", run="layers") as sp_bk:
        noop(dedup.lww_dedup_broadcast_keys(events, key="url", order=order))
    survivors_path = os.path.join(run.scratch, "survivors")
    (
        dedup.lww_dedup_broadcast_keys(events, key="url", order=order)
        .filter(F.col("op") != "D")
        .write.mode("overwrite")
        .parquet(survivors_path)
    )
    survivors = spark.read.parquet(survivors_path)
    n_surv = survivors.count()
    n_winners = dedup.winner_seqs(events, key="url", order=order).count()
    with tr.span("extract.enrich_udf", run="layers") as sp_ex:
        noop(survivors.select(extract.extract_enrich_udf(F.col("html"), F.col("language")).alias("tx")))
    sample = pq.read_table(survivors_path, columns=["html"]).column("html").to_pylist()[:2000]
    t = time.perf_counter()
    for h in sample:
        extract.extract_text_bytes(h)
    us_per_doc = (time.perf_counter() - t) / max(len(sample), 1) * 1e6

    table = LakeTable.create(
        os.path.join(run.scratch, "lake-probe"),
        schema=[
            ("url", "string"),
            ("warc_ts", "timestamp"),
            ("html", "binary"),
            ("text", "string"),
            ("language", "string"),
            ("fetch_status", "int"),
            ("_seq", "bigint"),
            ("_deleted", "boolean"),
        ],
        bucket_col="url",
        num_buckets=run.args.width,
        row_key="url",
        version_cols=["warc_ts", "_seq"],
    )
    delta = survivors.select(
        "url",
        "warc_ts",
        "html",
        F.lit(None).cast("string").alias("text"),
        "language",
        "fetch_status",
        F.col("seq").alias("_seq"),
        F.lit(False).alias("_deleted"),
    )
    with tr.span("lake.append_deltas", run="layers") as sp_ap:
        table = table.append_deltas(delta)
    written = [os.path.join(table.path, f["path"]) for f in table.manifest.files]

    leaves = Leaves(run)
    leaves.checked_pass()
    for i in range(3):
        leaves.timed_pass(i)

    run.spark.stop()
    log = EventLog(run.eventlog_dir)
    folds = [log.fold(tr, r["commit"]["id"]) for r in done]

    def med(key):
        return statistics.median(f[key] for f in folds)

    plain = [r["commit"]["dur"] for r in done if r["amp"] != 0] or [r["commit"]["dur"] for r in done]
    compact = compact_s or [r["commit"]["dur"] for r in done if r["amp"] == 0]
    live = [sum(row["n"] for row in r["rows"]) for r in done]
    scanned = [r["scanned"] for r in done]
    run.layers.update(leaves.layers(log))
    run.layers.update(
        {
            "engine.run_s": statistics.median(r["commit"]["dur"] for r in done),
            "engine.jobs": med("jobs"),
            "engine.tasks": med("tasks"),
            "engine.driver_gap_s": med("driver_gap_s"),
            "engine.executor_cpu_s": med("cpu_s"),
            "engine.shuffle_write_mb": med("shuffle_write_mb"),
            "engine.spill_mb": med("spill_mb"),
            "engine.gc_s": med("gc_s"),
            "engine.tick_s": statistics.median(plain),
            "engine.compact_tick_s": statistics.median(compact),
            "engine.jobs_per_tick": med("jobs"),
            "dedup.winner_seqs_s": sp_ws["dur"],
            "dedup.winner_shuffle_mb": log.fold(tr, sp_ws["id"])["shuffle_write_mb"],
            "dedup.rows_in": float(size.n_events),
            "dedup.winner_ratio": n_winners / size.n_events,
            "dedup.broadcast_keys_s": sp_bk["dur"],
            "extract.enrich_udf_s": sp_ex["dur"],
            "extract.docs": float(n_surv),
            "extract.us_per_doc": us_per_doc,
            "lake.append_deltas_s": sp_ap["dur"],
            "lake.bytes_written_mb": sum(os.path.getsize(p) for p in written) / 2**20,
            "lake.files_written": float(len(written)),
            "lake.resolve_read_s": statistics.median(r["read"]["dur"] for r in done),
            "lake.rows_scanned": statistics.median(scanned),
            "lake.read_amp": statistics.median(s / n for s, n in zip(scanned, live)),
            "lake.deltas_per_bucket": statistics.median(r["amp"] for r in done),
        }
    )


# --------------------------------------------------------------------- tail_mor


def tail_mor(run: Run) -> None:
    """One closed-loop tailer: a small commit, then an aggregate read of the
    live view, on a table pre-loaded during set-up."""
    import inputs

    pre, batch, n_batches = run.size["tail_preload"], run.size["tail_batch"], run.size["tail_batches"]
    # 8% of events on the hot url, so it passes the threshold in every batch
    size = inputs.LedgerSize(pre + batch * n_batches, hot_url_rate=0.08)
    t = time.perf_counter()
    ledger = inputs.ledger(run.cache, size, run.args.seed)
    run.layers["gen.ledger_s"] = time.perf_counter() - t
    run.phase("inputs")

    pages = os.path.join(run.scratch, "pages")
    start_s = run.start_session()
    t = time.perf_counter()
    with run.tracer.span("preload", run="preload"):
        run.engine(ledger, pages, batch_size=pre, compact_every_batches=0).run(max_batches=1)
        eng = run.engine(
            ledger,
            pages,
            batch_size=batch,
            compact_every_batches=TAIL_CYCLE,
            hot_threshold=TAIL_HOT_THRESHOLD,
            hot_detect_every=TAIL_CYCLE,
        )
        eng.compact()
    preload_s = time.perf_counter() - t

    ticks: list[dict] = []

    def tick(i: int, measured: bool) -> dict:
        tag = f"tick{i}" if measured else f"warm{i}"
        rec = run.commit_and_read("tick", tag, measured, lambda: eng if eng.run(max_batches=1) else None)
        if measured:
            ticks.append(rec)
        return rec

    run.metrics["setup_s"] = start_s + preload_s + run.warm_up(tick)
    run.layers["session.start_s"] = start_s
    run.phase("setup")

    run.measure(tick, cycle=TAIL_CYCLE, max_ops=n_batches - WARMUP_OPS["tail_mor"])
    run.phase("measure")

    # ---- outside the timed work: apply the rest of the ledger, then the
    # full-ledger state must equal the reference
    eng.cfg.batch_size = 10**12
    eng.run()
    expected = inputs.ledger_reference(run.spark, run.cache, size, run.args.seed, ledger)["hash"]
    if not run.check_state(eng, expected, "tail final state"):
        run.failed = run.attempted
    run.phase("check")
    run.op_metrics(ticks, batch, TAIL_CYCLE)
    run.notes["compaction_ticks"] = sum(1 for r in ticks if r["ok"] and r["amp"] == 0)

    if run.args.trace:
        trace_layers(run, ticks, ledger, size)
    shutil.rmtree(pages, ignore_errors=True)


def scanned_rows(eng) -> int:
    """Rows in the files a read of the live view scans (base plus deltas)."""
    import pyarrow.parquet as pq

    table = eng.pages
    return sum(pq.ParquetFile(os.path.join(table.path, f["path"])).metadata.num_rows for f in table.manifest.files)


# ---------------------------------------------------------------- query leaves


class Leaves:
    """The 8 headline queries over seeded tables, answers checked against DuckDB."""

    def __init__(self, run: Run):
        import __spark_entry__ as entry
        import inputs

        self.run = run
        self.dir, self.rows = inputs.tables(run.cache, run.args.seed, run.size["leaf_sf"])
        self.queries = entry.queries()
        self.expected = inputs.oracle_hashes(run.cache, self.dir, HEADLINE, entry.oracle_sql())
        self.spans: dict[str, list[dict]] = {n: [] for n in HEADLINE}

    def _answer_hash(self, name: str) -> str:
        import inputs

        df = self.queries[name](self.run.spark, self.dir)
        return inputs.value_hash([tuple(r) for r in df.collect()], df.columns)

    def checked_pass(self) -> None:
        """Every leaf once, its answer compared with the oracle's."""
        run = self.run
        for name in HEADLINE:
            with run.tracer.span(f"warm.{name}", run="leaves-warm"):
                got = run.op(True, self._answer_hash, name)
            if got is not None and got != self.expected[name]:
                run.failed += 1
                run.errors.append(f"{name}: value hash {got} != oracle {self.expected[name]}")

    def timed_pass(self, i: int) -> None:
        """Every leaf once into a noop sink, each under its own span."""
        run = self.run
        for name in HEADLINE:
            with run.tracer.span(f"leaf.{name}", run=f"leaves{i}") as sp:
                run.op(True, lambda n=name: self.queries[n](run.spark, self.dir).write.format("noop").mode("overwrite").save())
            self.spans[name].append(sp)

    def layers(self, log) -> dict[str, float]:
        out = {}
        for n, sps in self.spans.items():
            folds = [log.fold(self.run.tracer, s["id"]) for s in sps]
            out[f"leaf.{n}_s"] = statistics.median(s["dur"] for s in sps)
            out[f"leaf.{n}_shuffle_mb"] = statistics.median(f["shuffle_write_mb"] for f in folds)
            out[f"leaf.{n}_tasks"] = statistics.median(f["tasks"] for f in folds)
        out["leaf.total_s"] = sum(out[f"leaf.{n}_s"] for n in HEADLINE)
        return out


WORKLOADS = {"bulk_replay": bulk_replay, "tail_mor": tail_mor}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--width", type=int, required=True)
    ap.add_argument("--driver-memory", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    run = Run(args)
    try:
        WORKLOADS[args.workload](run)
        run.phase("report")
        if run.args.trace:
            run.tracer.dump(os.path.join(run.work, f"spans-{args.workload}.json"))
            run.notes["self_time"] = run.tracer.self_time_table()
    finally:
        if run.spark is not None:
            run.spark.stop()
        shutil.rmtree(run.scratch, ignore_errors=True)
    run.notes["phases"] = run.phases
    result = {
        "attempted": run.attempted,
        "failed": run.failed,
        "errors": run.errors,
        "metrics": run.metrics,
        "layers": run.layers,
        "notes": run.notes,
    }
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
