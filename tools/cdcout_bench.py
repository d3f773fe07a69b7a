"""CDC-out cost: changelog + IVM refresh for a quiet interval vs full scans.

The downstream story the snapshot surfaces exist for: after a replay, a
SMALL update interval lands (a quiet tail batch touching a handful of
urls), and a downstream consumer needs the change set and its rollups
refreshed. The reference's only idiom is re-read/re-aggregate the world;
this tool measures the incremental alternatives on a deterministic
mid-size table:

- ``changelog``: `read_changes` over the quiet interval, pruned to the
  buckets whose file set changed — rows_read is the scale evidence (walls
  at this size are job-overhead-dominated; the ROWS ratio is what holds at
  10^10).
- ``IVM``: `IncrementalAggregate.refresh()` delta path vs a from-scratch
  recompute (a fresh aggregate's first refresh), value-equality asserted.

Prints one machine-readable line: ``CDC_OUT {json}``.
"""

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from data_warehouse_etl_spark.session import get_spark  # noqa: E402
from data_warehouse_etl_spark.cdc import (  # noqa: E402
    CdcEngine,
    EngineConfig,
    IncrementalAggregate,
    LedgerSpec,
    generate_ledger,
)
from data_warehouse_etl_spark.lake import LakeTable, state_hash  # noqa: E402


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".bench", "cdcout")
    n_events = int(os.environ.get("SPARK_GRAFT_CDCOUT_EVENTS", "400000"))
    num_buckets = 256  # fine-grained layout so a quiet interval is prunable
    quiet_urls = 16

    spark = get_spark(app_name="cdcout-bench", master="local[8]", shuffle_partitions=64)
    led = generate_ledger(
        os.path.join(out_dir, "changes"),
        LedgerSpec(
            n_urls=max(n_events // 5, 1000),
            n_events=n_events,
            n_parts=8,
            seed=77,
            evolve_at_seq=n_events // 2,  # final schema: language, fetch_status
        ),
    )
    # fresh run state (the ledger stays — it is the deterministic cache);
    # stale pages/agg tables would turn the measured refreshes into no-ops
    import shutil

    pages_path = os.path.join(out_dir, "pages")
    for sub in ("pages", "agg", "agg_fresh"):
        shutil.rmtree(os.path.join(out_dir, sub), ignore_errors=True)
    eng = CdcEngine(
        spark,
        EngineConfig(
            ledger_path=led.path,
            pages_path=pages_path,
            batch_size=n_events // 4,
            num_buckets=num_buckets,
        ),
    )
    t0 = time.monotonic()
    batches = eng.run()
    replay_sec = time.monotonic() - t0

    # downstream rollup, anchored at the replayed state (recompute path)
    t0 = time.monotonic()
    agg = IncrementalAggregate(
        eng, os.path.join(out_dir, "agg"), group_cols=["language"],
        sum_cols=["fetch_status"], num_buckets=16,
    )
    assert agg.refresh()["mode"] == "recompute"
    ivm_recompute_sec = time.monotonic() - t0

    # the quiet interval: bump fetch_status on a deterministic handful of
    # live urls — committed exactly like a real tail batch (MoR delta, LWW
    # on (warc_ts, _seq))
    v_from = eng.pages.manifest.version
    live = eng.pages.read(spark).filter(~F.col("_deleted"))
    picked = [r.asDict() for r in live.orderBy("url").limit(quiet_urls).collect()]
    max_seq = live.agg(F.max("_seq")).collect()[0][0]
    for i, r in enumerate(picked):
        r["fetch_status"] = (r.get("fetch_status") or 0) + 1
        r["_seq"] = max_seq + 1 + i
    eng.pages = eng.pages.append_deltas(
        spark.createDataFrame(picked, eng.pages.schema())
    )

    # changelog over the quiet interval: pruned rows read vs table rows
    from_m = eng.pages.at_version(v_from).manifest
    changed = LakeTable._changed_buckets(from_m, eng.pages.manifest)
    rows_total = live.count()
    rows_read = (
        eng.pages.read(spark, buckets=changed, resolve=False).count()
        + eng.pages.at_version(v_from).read(spark, buckets=changed, resolve=False).count()
    )
    t0 = time.monotonic()
    cl_rows = eng.changelog(v_from).count()
    changelog_sec = time.monotonic() - t0
    t0 = time.monotonic()
    eng.read_pages().count()  # the re-read-the-world alternative
    full_scan_sec = time.monotonic() - t0

    # IVM delta refresh for the same interval vs a from-scratch aggregate
    t0 = time.monotonic()
    res = agg.refresh()
    ivm_delta_sec = time.monotonic() - t0
    assert res["mode"] == "delta", res
    agg_fresh = IncrementalAggregate(
        eng, os.path.join(out_dir, "agg_fresh"), group_cols=["language"],
        sum_cols=["fetch_status"], num_buckets=16,
    )
    t0 = time.monotonic()
    assert agg_fresh.refresh()["mode"] == "recompute"
    ivm_recompute2_sec = time.monotonic() - t0
    matches = state_hash(agg.read()) == state_hash(agg_fresh.read())

    out = {
        "events": n_events,
        "batches": batches,
        "replay_sec": round(replay_sec, 2),
        "num_buckets": num_buckets,
        "quiet_urls": quiet_urls,
        "buckets_scanned": len(changed) if changed is not None else num_buckets,
        "rows_read_changelog": rows_read,
        "rows_live_total": rows_total,
        "scan_fraction": round(rows_read / max(2 * rows_total, 1), 4),
        "changelog_rows": cl_rows,
        "changelog_sec": round(changelog_sec, 2),
        "full_scan_sec": round(full_scan_sec, 2),
        "ivm_delta_sec": round(ivm_delta_sec, 2),
        "ivm_recompute_sec": round(min(ivm_recompute_sec, ivm_recompute2_sec), 2),
        "ivm_groups_changed": res["groups_changed"],
        "ivm_matches_recompute": bool(matches),
    }
    print("CDC_OUT " + json.dumps(out))


if __name__ == "__main__":
    main()
