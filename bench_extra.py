"""Extra benchmarks for the optimization round (guide §1.4): per-query
noop-sink isolation with the same methodology as the frozen bench.py
query block (local[$SPARK_GRAFT_CPUS], shuffle_partitions=CPUS, warmup
rep then interleaved timed reps, per-query median), plus
``.explain("formatted")`` capture for the plan evidence in plans/r06/.

Usage:
    python bench_extra.py time  [rep_count] [query ...]   # default: headline set
    python bench_extra.py plans [out_dir]   [query ...]   # default: all declared
"""

from __future__ import annotations

import io
import json
import os
import statistics
import sys
import time
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

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


def _spark():
    from data_warehouse_etl_spark.session import get_spark

    return get_spark(
        app_name="bench-extra", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )


def time_queries(reps: int, names: list[str]) -> None:
    import __spark_entry__ as entrymod

    spark = _spark()
    queries = entrymod.all_queries()
    for name in names:  # warmup, untimed
        queries[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
    times: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(reps):
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t = time.monotonic()
            queries[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            times[name].append(round(time.monotonic() - t, 3))
    spark.sparkContext.setJobDescription(None)
    out = {
        n: {"median_sec": round(statistics.median(ts), 3), "reps_sec": ts}
        for n, ts in times.items()
    }
    print("BENCH_EXTRA " + json.dumps({"sf_dir": SF_DIR, "cpus": CPUS, "queries": out}))
    spark.stop()


def dump_plans(out_dir: str, names: list[str], suffix: str) -> None:
    import __spark_entry__ as entrymod

    os.makedirs(out_dir, exist_ok=True)
    spark = _spark()
    queries = entrymod.all_queries()
    for name in names:
        df = queries[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {name}_{suffix}.txt")
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    if mode == "time":
        reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
        names = sys.argv[3:] or HEADLINE
        time_queries(reps, names)
    elif mode == "plans":
        import __spark_entry__ as entrymod

        args = sys.argv[2:]
        known = set(entrymod.all_queries())
        # a query name in the out_dir position means "default dir, this query"
        if args and args[0] in known:
            out_dir, names = os.path.join(REPO, "plans", "r06"), args
        else:
            out_dir = args[0] if args else os.path.join(REPO, "plans", "r06")
            names = args[1:] or sorted(known)
        suffix = os.environ.get("PLAN_SUFFIX", "before")
        dump_plans(out_dir, names, suffix)
    else:
        raise SystemExit(f"unknown mode {mode}")
