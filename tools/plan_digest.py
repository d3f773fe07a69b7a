"""Digest of every physical plan the engine executes, for before/after diffs.

Runs, in one fresh local session with the Spark event log on: one bulk
replay of a small ledger (one batch, a schema change half-way) and a read
of its live view; a tail pre-load, one compaction and ``--ticks`` one-batch
ticks, each followed by a read. Then it prints every
``physicalPlanDescription`` of the event log in order: each SQL execution's
initial plan and each of its AQE updates.

Run-specific text is stripped, so two runs of one commit print the same
digest and two commits print the same digest exactly when they execute the
same plans:

- expression ids (``url#12``) and plan ids (``[plan_id=34]``);
- the work directory, snapshot directories (``data/snap-<hex>``) and data
  file names;
- ``Observation`` uuids;
- the runtime ``Statistics(...)`` of AQE query stages (dropped), which a
  sibling stage may or may not have reported yet when a plan update is
  logged.

Temporary view creations are left out (see :func:`digest`).

Usage:
    python tools/plan_digest.py [--ticks N] [--events N] > digest.txt
    diff parent.txt change.txt        # empty when the plans are identical
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Cores and shuffle partitions. Fixed: two digests compare only at one width.
WIDTH = 4
sys.path.insert(0, REPO)

_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_VIEW = re.compile(r"== Physical Plan ==\s+Execute CreateViewCommand")
_UUID = r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"


def normalize(plan: str, work: str) -> str:
    """``plan`` with the run-specific text listed in the module docstring
    replaced by fixed tokens or dropped."""
    plan = plan.replace("file:" + work, "<work>").replace(work, "<work>")
    subs = [
        (r"#\d+", "#"),
        (r"plan_id=\d+", "plan_id=_"),
        (r"snap-[0-9a-f]{12}", "snap-_"),
        (r"part-\d+-" + _UUID + r"[^\s,\]]*", "part-_"),
        (_UUID, "<uuid>"),
        (r",? ?Statistics\([^)]*\)", ""),
    ]
    for pat, rep in subs:
        plan = re.sub(pat, rep, plan)
    return plan.rstrip() + "\n"


def digest(event_log: str, work: str) -> list[str]:
    """One block per plan description in ``event_log``, in log order.

    A temporary view's creation (``spark.sql(text, df=...)`` registers each
    DataFrame argument as one) is logged as a SQL execution too. It is
    catalog bookkeeping that runs no Spark job, so it is left out, and the
    executions that remain are numbered in order."""
    out: list[str] = []
    number: dict[int, int] = {}
    updates: dict[int, int] = {}
    with open(event_log) as fh:
        for line in fh:
            if _START not in line and _AQE not in line:
                continue
            ev = json.loads(line)
            eid, plan = ev["executionId"], ev["physicalPlanDescription"]
            if ev["Event"] == _START:
                if _VIEW.match(plan):
                    continue
                number[eid] = len(number)
                head = f"== execution {number[eid]}: initial plan"
            else:
                updates[eid] = updates.get(eid, 0) + 1
                head = f"== execution {number[eid]}: AQE update {updates[eid]}"
            out.append(head + "\n" + normalize(plan, work))
    return out


def workload(spark, work: str, n_events: int, ticks: int) -> None:
    from pyspark.sql import functions as F

    from data_warehouse_etl_spark.cdc import CdcEngine, EngineConfig, LedgerSpec, generate_ledger

    led = generate_ledger(
        os.path.join(work, "changes"),
        LedgerSpec(n_urls=n_events // 10, n_events=n_events, n_parts=4, seed=1,
                   evolve_at_seq=n_events // 2),
    )

    def engine(pages: str, **cfg) -> CdcEngine:
        return CdcEngine(spark, EngineConfig(
            ledger_path=led.path, pages_path=os.path.join(work, pages), num_buckets=4, **cfg))

    def read(eng: CdcEngine) -> None:
        eng.read_pages().groupBy("language").agg(F.count("*").alias("n")).collect()

    bulk = engine("bulk", batch_size=10**12)
    bulk.run()
    read(bulk)

    pre = n_events // 2
    engine("tail", batch_size=pre, compact_every_batches=0).run(max_batches=1)
    tail = engine("tail", batch_size=max(n_events // 50, 1), compact_every_batches=6)
    tail.compact()
    for _ in range(ticks):
        tail.run(max_batches=1)
        read(tail)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--ticks", type=int, default=3)
    ap.add_argument("--events", type=int, default=5000)
    args = ap.parse_args()

    from data_warehouse_etl_spark.session import get_spark

    work = os.path.realpath(tempfile.mkdtemp(prefix="plan-digest-"))
    events = os.path.join(work, "events")
    os.makedirs(events)
    try:
        spark = get_spark(
            app_name="plan-digest",
            master=f"local[{WIDTH}]",
            shuffle_partitions=WIDTH,
            extra_conf={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            },
        )
        workload(spark, work, args.events, args.ticks)
        spark.stop()  # flushes and closes the event log
        (log,) = glob.glob(os.path.join(events, "*"))
        sys.stdout.write("\n".join(digest(log, work)))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
