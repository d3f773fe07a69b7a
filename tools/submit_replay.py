"""spark-submit entry point for the CDC replay (the north rule's deployment
mode: ``spark-submit --py-files dist/data_warehouse_etl_spark.zip``).

Unlike the test/bench harness this script never constructs a master — the
cluster manager comes from spark-submit — and engine sizing is explicit
flags, so the SAME invocation runs at N and at 4N executors:

    python tools/make_pyfiles.py                       # build the zip once
    spark-submit --master <cluster> \\
        --py-files dist/data_warehouse_etl_spark.zip \\
        tools/submit_replay.py \\
        --ledger /data/changes --pages /data/pages \\
        --batch-size 20000000 --num-buckets 1024 \\
        --shuffle-partitions 4096

Prints one JSON line with the master, the executor JVM count, batches
applied, events/sec, live rows, and the order-insensitive state hash — diff
the hash across the two cluster sizes for the byte-identical-state half of
the scaling criterion.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser(description="CDC ledger replay (spark-submit)")
    ap.add_argument("--ledger", required=True, help="change-ledger LakeTable path")
    ap.add_argument("--pages", required=True, help="target pages LakeTable path")
    ap.add_argument("--batch-size", type=int, default=1_000_000)
    ap.add_argument("--num-buckets", type=int, default=16)
    ap.add_argument("--files-per-bucket", type=int, default=1)
    ap.add_argument("--max-batches", type=int, default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None,
                    help="2-3x total executor cores; default: Spark conf")
    ap.add_argument("--dedup-plan", default="auto",
                    choices=["auto", "broadcast_keys", "full_shuffle"])
    ap.add_argument("--watermark-delay-s", type=int, default=None)
    ap.add_argument("--compact-every-batches", type=int, default=32)
    ap.add_argument("--state-hash", action="store_true",
                    help="compute the final order-insensitive state hash "
                         "(one extra read of the live table)")
    args = ap.parse_args()

    # master=None: get_spark keeps the master spark-submit launched with
    from data_warehouse_etl_spark.session import get_spark
    from data_warehouse_etl_spark.cdc import CdcEngine, EngineConfig

    spark = get_spark(
        app_name="cdc-replay",
        master=None,
        shuffle_partitions=args.shuffle_partitions,
    )
    cfg = EngineConfig(
        ledger_path=args.ledger,
        pages_path=args.pages,
        batch_size=args.batch_size,
        num_buckets=args.num_buckets,
        files_per_bucket=args.files_per_bucket,
        dedup_plan=args.dedup_plan,
        watermark_delay_s=args.watermark_delay_s,
        compact_every_batches=args.compact_every_batches,
    )
    eng = CdcEngine(spark, cfg)
    t0 = time.monotonic()
    n_batches = eng.run(max_batches=args.max_batches)
    wall = time.monotonic() - t0

    sc = spark.sparkContext
    out = {
        "master": sc.master,
        # block managers minus the driver's: executor JVMs (0 in local mode,
        # where the driver runs the tasks)
        "executors": sc._jsc.sc().getExecutorMemoryStatus().size() - 1,
        "batches": n_batches,
        "wall_sec": round(wall, 3),
        "committed_offsets": eng.committed_offsets(),
        "read_amplification": eng.read_amplification(),
    }
    events = sum(
        int(r["events_in"]) for r in eng.metrics.read(spark).collect()
    )
    out["events_applied"] = events
    out["events_per_sec"] = round(events / wall, 1) if wall else None
    if args.state_hash:
        from data_warehouse_etl_spark.lake import state_hash

        out["state_hash"] = str(state_hash(eng.read_pages()))
        out["live_rows"] = eng.read_pages().count()
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
