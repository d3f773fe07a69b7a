"""Per-stage profile of a single-batch CDC replay at a given local[N] width.

Runs the same replay as bench.py's worker, with the Spark UI enabled, then
dumps per-job and per-stage wall/cpu/io metrics from the UI REST API. The
gaps between job windows are pure driver-side time (broadcast relation
build, manifest commit, planning) — the serial-fraction suspects for the
scaling gate.

Usage: taskset -c 0-3 python tools/profile_replay.py 4 [ledger_path]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    cpus = int(sys.argv[1])
    ledger_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, ".bench", "ledger_sf0.1")
    pages_path = os.path.join(REPO, ".bench", f"profile_pages_{cpus}")
    shutil.rmtree(pages_path, ignore_errors=True)

    from data_warehouse_etl_spark.session import get_spark
    from data_warehouse_etl_spark.cdc import CdcEngine, EngineConfig
    from data_warehouse_etl_spark.lake import LakeTable

    spark = get_spark(
        app_name=f"profile-replay-{cpus}",
        master=f"local[{cpus}]",
        # match bench.run_replay_worker exactly so the profile prices the
        # same plan the frozen bench times
        shuffle_partitions=max(cpus * 4, 4),
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": "4050",
            # smaller scan splits than the 128m default: wave-balanced
            # tasks for the python-bound extract stage (reduce width now
            # comes from parallelism-first AQE coalescing, session.py)
            "spark.sql.files.maxPartitionBytes": "16m",
        },
    )
    ledger = LakeTable.load(ledger_path)
    n_events = sum(
        f.get("stats", {}).get("max_seq", 0) - f.get("stats", {}).get("min_seq", 0) + 1
        for f in ledger.manifest.files
    )
    cfg = EngineConfig(
        ledger_path=ledger_path,
        pages_path=pages_path,
        batch_size=n_events,  # single batch
        num_buckets=16,
        files_per_bucket=1,
        dedup_plan="broadcast_keys",
    )
    eng = CdcEngine(spark, cfg)
    # warmup identical to bench worker
    from bench import warm_jvm

    warm_jvm(spark)

    t0 = time.monotonic()
    eng.run()
    wall = time.monotonic() - t0
    print(f"TOTAL wall at local[{cpus}]: {wall:.2f}s  ({n_events / wall:.0f} ev/s)")

    base = "http://localhost:4050/api/v1"
    apps = json.load(urllib.request.urlopen(f"{base}/applications"))
    app_id = apps[0]["id"]
    jobs = json.load(urllib.request.urlopen(f"{base}/applications/{app_id}/jobs"))
    stages = json.load(
        urllib.request.urlopen(f"{base}/applications/{app_id}/stages?status=complete")
    )

    def ts(s):
        return time.mktime(time.strptime(s[:19], "%Y-%m-%dT%H:%M:%S")) + float("0." + s[20:23])

    jobs = sorted(jobs, key=lambda j: j["jobId"])
    print("\n== JOBS (gaps between jobs = driver-side serial time) ==")
    prev_end = None
    for j in jobs:
        st, en = ts(j["submissionTime"]), ts(j["completionTime"])
        gap = f"  gap_before={st - prev_end:6.2f}s" if prev_end is not None else ""
        print(
            f"job {j['jobId']:3d}  {en - st:7.2f}s  stages={j['stageIds']}{gap}  "
        )
        prev_end = en
    print("\n== STAGES ==")
    for s in sorted(stages, key=lambda s: s["stageId"]):
        if "submissionTime" not in s or s.get("completionTime") is None:
            continue
        dur = ts(s["completionTime"]) - ts(s["firstTaskLaunchedTime"]) if s.get("firstTaskLaunchedTime") else 0
        print(
            f"stage {s['stageId']:3d} tasks={s['numCompleteTasks']:3d} "
            f"wall={dur:7.2f}s run={s['executorRunTime']/1000:7.2f}s "
            f"cpu={s['executorCpuTime']/1e9:7.2f}s "
            f"in={s['inputBytes']/1e6:8.1f}MB sW={s['shuffleWriteBytes']/1e6:8.1f}MB "
            f"sR={s['shuffleReadBytes']/1e6:8.1f}MB  {s['name'].splitlines()[0][:70]}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
