"""Benchmark of the CDC engine: bulk replay and a merge-on-read tail with reads.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Each run starts a fresh worker process (its own JVM and Spark session at
``local[<cores>]``) for one workload, and brackets the run with a
CPU-capacity probe and a disk probe, which are printed and never used to
normalize a metric. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.

``--smoke`` is the benchmark's self-check: both workloads at toy size,
traced, asserting that every metric is produced with its unit, that the
commit and read spans cover the operations' wall, and that a deliberately
corrupted state fails the output check.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("bulk_replay", "tail_mor")
DRIVER_MEMORY = "4g"  # heap of the driver JVM (local mode: the executors too)
WORKER_TIMEOUT_S = 170


def width() -> int:
    """Cores this process may run on (``nproc``)."""
    return len(os.sched_getaffinity(0))


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# ------------------------------------------------------------------- probes

_BURN = "s=0\nfor i in range(1_000_000): s+=i"


def cpu_probe(n: int) -> float:
    """Million loop iterations per second over ``n`` concurrent processes."""
    t = time.perf_counter()
    procs = [subprocess.Popen([sys.executable, "-c", _BURN]) for _ in range(n)]
    for p in procs:
        p.wait()
    return n * 1.0 / (time.perf_counter() - t)


def disk_probe(path: str, mib: int = 16) -> float:
    """MiB/s of a sequential write of ``mib`` MiB followed by fsync."""
    block = os.urandom(1 << 20)
    t = time.perf_counter()
    with open(path, "wb") as fh:
        for _ in range(mib):
            fh.write(block)
        fh.flush()
        os.fsync(fh.fileno())
    dt = time.perf_counter() - t
    os.remove(path)
    return mib / dt


def probes(suffix: str) -> dict[str, float]:
    return {
        f"cpu_mops_{suffix}": cpu_probe(width()),
        f"disk_mib_s_{suffix}": disk_probe(os.path.join(WORK, "probe.bin")),
    }


# ------------------------------------------------------------------- worker


def _become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process, so that it can
    stop them and wait for them: Spark's Python daemon puts itself in a
    process group of its own and outlives the worker by a moment."""
    PR_SET_CHILD_SUBREAPER = 36
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _children() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                if int(fh.read().rsplit(")", 1)[1].split()[1]) == me:
                    out.append(int(d))
        except (OSError, IndexError, ValueError):
            continue
    return out


def _stop_children(grace_s: float = 10.0) -> None:
    """Wait until every child (re-parented orphans included) has ended;
    kill those still running after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while kids := _children():
        for pid in kids:
            try:
                if time.monotonic() > deadline:
                    os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, os.WNOHANG)
            except (ProcessLookupError, ChildProcessError):
                continue
        time.sleep(0.05)


def run_worker(workload: str, seed: int, seconds: float, trace: int, smoke: bool = False) -> dict:
    """Run one workload in a fresh process, wait until it and every process
    it started have ended, and return the worker's result with the probes
    added. Raises on worker failure."""
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "spark-local"), exist_ok=True)
    out = os.path.join(WORK, f"result-{workload}-{os.getpid()}.json")
    n = width()
    # every resource is set here, none is inherited from the caller
    env = {k: v for k, v in os.environ.items() if not k.startswith(("SPARK_", "PYSPARK_"))}
    env.update(
        PYTHONPATH=ROOT,
        PYTHONHASHSEED="0",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(n),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=os.path.join(WORK, "tmp"),
    )
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(seconds),
        "--trace", str(trace),
        "--width", str(n),
        "--driver-memory", DRIVER_MEMORY,
        "--work", WORK,
        "--out", out,
    ] + (["--smoke"] if smoke else [])
    before = probes("before")
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, start_new_session=True, stdout=sys.stderr)
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        _stop_children()
    wall = time.perf_counter() - t0
    if code != 0 or not os.path.exists(out):
        raise RuntimeError(f"worker for {workload} failed (exit {code})")
    with open(out) as fh:
        res = json.load(fh)
    os.remove(out)
    res.update(probes={**before, **probes("after")}, wall_s=wall, width=n)
    return res


# ------------------------------------------------------------------- report


def _table(title: str, rows: dict, units: dict[str, str]) -> None:
    print(f"-- {title}")
    for k in sorted(rows):
        print(f"   {k:<40} {rows[k]:>14.6g} {units.get(k, '')}")


def report(workload: str, seed: int, trace: int, res: dict) -> dict:
    """Print the human-readable report; return the result line's metrics."""
    sp = spec()
    print(f"perfbench {workload} seed={seed} trace={trace} width=local[{res['width']}] "
          f"driver_memory={DRIVER_MEMORY} wall={res['wall_s']:.1f}s")
    print("probes " + json.dumps({k: round(v, 3) for k, v in res["probes"].items()}))
    attempted, failed = res["attempted"], res["failed"]
    print(f"ops_total={attempted} failed_ops_frac={failed / max(attempted, 1):.4f} notes="
          + json.dumps({k: v for k, v in res["notes"].items() if k != "self_time"}))
    for e in res["errors"]:
        print("ERROR " + e.strip().replace("\n", "\n      "))
    last = os.path.join(WORK, f"last-{workload}.json")
    if trace:
        wanted = sp["per_layer"]
        missing = [m["name"] for m in wanted if m["name"] not in res["layers"]]
        if missing:
            raise RuntimeError(f"{workload}: per-layer metrics not measured: {missing}")
        values = {m["name"]: float(res["layers"][m["name"]]) for m in wanted}
        print("-- span self time (name, count, total_s, self_s)")
        for name, count, total, self_s in sorted(res["notes"].get("self_time", []), key=lambda r: -r[3]):
            print(f"   {name:<40} {count:>5} {total:>10.3f} {self_s:>10.3f}")
        _table("end-to-end metrics of this traced run", res["metrics"], {})
        if os.path.exists(last):
            with open(last) as fh:
                untraced = json.load(fh)
            print("-- tracing overhead: traced minus the last untraced run of this workload")
            for k in sorted(set(untraced) & set(res["metrics"])):
                print(f"   {k:<40} {res['metrics'][k] - untraced[k]:>+14.6g}")
        else:
            print("-- tracing overhead: no untraced run of this workload in this checkout yet")
    else:
        wanted = sp["end_to_end"]
        values = {m["name"]: float(res["metrics"][m["name"]]) for m in wanted}
        with open(last, "w") as fh:
            json.dump(res["metrics"], fh)
    units = {m["name"]: m["unit"] for m in wanted}
    _table("per-layer metrics" if trace else "end-to-end metrics", values, units)
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}


def smoke() -> int:
    """Toy-size self-check of both workloads (about three minutes)."""
    sp = spec()
    problems = []
    e2e = {m["name"]: m["unit"] for m in sp["end_to_end"]}
    layer_names = {m["name"] for m in sp["per_layer"]}
    for w in WORKLOADS:
        res = run_worker(w, seed=7, seconds=2, trace=1, smoke=True)
        printed = report(w, 7, 1, res)
        for name, unit in e2e.items():
            if not res["metrics"].get(name, 0) > 0:
                problems.append(f"{w}: end-to-end metric {name} [{unit}] missing or not positive")
        for name, entry in printed.items():
            if not entry["unit"]:
                problems.append(f"{w}: per-layer metric {name} has no unit")
        for name in set(res["layers"]) - layer_names:
            problems.append(f"{w}: layer metric {name} not declared in BENCHMARK.json")
        if res["failed"] or res["errors"]:
            problems.append(f"{w}: {res['failed']} of {res['attempted']} operations failed")
        if w == "bulk_replay" and not res["notes"].get("corruption_detected"):
            problems.append("bulk_replay: a corrupted state passed the output check")
        if res["notes"].get("op_child_coverage", 0) < 0.95:
            problems.append(f"{w}: child spans cover under 95% of the operations' wall")
    for p in problems:
        print("SMOKE FAIL " + p)
    print("smoke " + ("ok" if not problems else f"failed ({len(problems)} problems)"))
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    _become_subreaper()
    if not os.path.isdir(os.path.join(ROOT, "data_warehouse_etl_spark")) or not os.path.exists(
        os.path.join(ROOT, "__spark_entry__.py")
    ):
        print(f"perfbench: the program is not in {ROOT}", file=sys.stderr)
        return 2
    if args.smoke:
        return smoke()
    if args.workload is None or args.seed is None or args.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    res = run_worker(args.workload, args.seed, args.seconds, args.trace)
    metrics = report(args.workload, args.seed, args.trace, res)
    line = {
        "correct": res["failed"] == 0 and not res["errors"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
