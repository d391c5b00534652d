"""Benchmark entry point: one workload, one seed, one measured process.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 12 --trace 0

Run from the repository root. It prepares the inputs (seeded, cached under
``.perfbench/``), starts ``worker.py`` in an isolated process on
``local[<cores>]``, samples the process tree's resident memory, prints a
readable report, and as its last stdout line one JSON object with the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "first_query_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "queries_per_min": "1/min",
    "peak_rss_mb": "MB",
}
# Per-layer metric -> (unit, per-query sample key). Per-query values are
# means over the traced executions; see README.md.
PER_LAYER = {
    "session.start_s": ("s", None),
    "registry.load_s": ("s", None),
    "queries.build_s": ("s", "build_s"),
    "queries.build_jobs": ("count", "build_jobs"),
    "plans.plan_s": ("s", "plan_s"),
    "exec.action_s": ("s", "action_s"),
    "exec.jobs": ("count", "jobs"),
    "exec.stages": ("count", "stages"),
    "exec.tasks": ("count", "tasks"),
    "exec.driver_gap_s": ("s", "driver_gap_s"),
    "exec.task_s": ("s", "task_s"),
    "exec.cpu_s": ("s", "cpu_s"),
    "exec.gc_s": ("s", "gc_s"),
    "exec.core_util": ("ratio", None),
    "sources.scan_bytes": ("bytes", "scan_bytes"),
    "sources.scan_rows": ("count", "scan_rows"),
    "sources.write_bytes": ("bytes", "write_bytes"),
    "sources.write_rows": ("count", "write_rows"),
    "shuffle.write_bytes": ("bytes", "shuffle_write_bytes"),
    "shuffle.read_bytes": ("bytes", "shuffle_read_bytes"),
    "shuffle.fetch_wait_s": ("s", "fetch_wait_s"),
    "exec.spill_bytes": ("bytes", "spill_bytes"),
}
# A run must end within 180 s: no timed pass starts after WORKER_PASS_LIMIT
# seconds, and the worker is killed at WORKER_KILL_AFTER.
WORKER_PASS_LIMIT = 110
WORKER_KILL_AFTER = 165
PACKAGE = "mapreducemovieanalysis_cloud_spark"
# Initial driver heap (-Xms); the engine's spark.driver.memory stays the
# maximum. G1 otherwise starts near 1/64 of RAM and grows the heap at GC
# times that differ run to run: across ten seeds the JVM's peak RSS ranged
# over 2.0-3.9 GB on relational, against 2.6-2.7 GB with this floor. Memory
# above the floor (heap growth past it, the JVM's non-heap, every Python
# process) still moves peak_rss_mb; heap use that stays below it does not.
INITIAL_HEAP = "2g"
# Least share of a traced query's wall time its build and action spans must
# cover; a traced query below it counts as failed.
COVERAGE_FLOOR = 0.9


def cores() -> int:
    return len(os.sched_getaffinity(0))


def tail(samples: list[dict]) -> tuple[float, int]:
    """Nearest-rank p90 over the workload's queries of each query's median
    latency, and the number of queries: the slow end of the query mix, each
    query's median taken over its timed executions so that one slow moment
    does not make the tail. A percentile over the pooled samples with ten
    samples above it would need far more samples than a run can afford."""
    walls: dict[str, list[float]] = {}
    for s in samples:
        walls.setdefault(s["query"], []).append(s["wall_s"])
    medians = sorted(statistics.median(v) for v in walls.values())
    return medians[math.ceil(0.9 * len(medians)) - 1], len(medians)


def uncovered(traced: list[dict]) -> list[str]:
    """Tags of traced queries whose build and action spans cover less than
    COVERAGE_FLOOR of their wall time: time the spans miss is time no
    per-layer metric accounts for."""
    return [
        s["tag"] for s in traced
        if (s["build_s"] + s["action_s"]) / s["wall_s"] < COVERAGE_FLOOR
    ]


# ---- process tree: memory sampling and clean-up -----------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _status(pid: int) -> dict[str, str]:
    with open(f"/proc/{pid}/status") as f:
        return dict(line.rstrip("\n").split(":\t", 1) for line in f if ":\t" in line)


def rss_by_kind(root: int, pids: list[int]) -> dict[str, list[int]]:
    """[bytes, process count] per kind of process: the JVM (``jvm``), the
    measured Python process itself (``driver``) and the Python processes it
    starts through Spark (``python_workers``: PySpark's daemon and its UDF
    workers). Bytes are each process's high-water mark of resident memory
    (VmHWM), so a spike between two samples still counts.

    Other processes are left out: the JVM runs shell commands through
    short-lived children that, until they exec, report the JVM's own
    pages as theirs (a child of the JVM once showed 3 GB)."""
    status = {}
    for p in pids:
        try:
            status[p] = _status(p)
        except OSError:
            continue
    kinds: dict[str, list[int]] = {}
    for p, st in status.items():
        name, parent = st.get("Name", ""), status.get(int(st.get("PPid", 0)), {})
        if name == "java" and parent.get("Name") != "java":
            kind = "jvm"
        elif p == root:
            kind = "driver"
        elif name.startswith("python"):
            kind = "python_workers"
        else:
            continue
        entry = kinds.setdefault(kind, [0, 0])
        entry[0] += int(st.get("VmHWM", "0 kB").split()[0]) * 1024
        entry[1] += 1
    return kinds


class TreeWatch(threading.Thread):
    """Every 0.2 s, sums the peak RSS (VmHWM) of a process and its live
    descendants, keeps the largest sum and its split by process kind, and
    remembers every pid it saw so they can all be reaped."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak, self.seen = pid, 0, set()
        self.peak_split: dict[str, list[int]] = {}
        self.done = threading.Event()

    def run(self):
        while not self.done.is_set():
            pids = tree(self.pid)
            self.seen.update(pids)
            split = rss_by_kind(self.pid, pids)
            total = sum(rss for rss, _ in split.values())
            if total > self.peak:
                self.peak, self.peak_split = total, split
            self.done.wait(0.2)


def _alive(pids) -> list[int]:
    live = []
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                    live.append(p)
        except OSError:
            pass
    return live


def reap(pids, grace: float) -> None:
    """Wait up to ``grace`` seconds for ``pids`` to exit, then kill the rest."""
    end = time.time() + grace
    while _alive(pids) and time.time() < end:
        time.sleep(0.1)
    for p in _alive(pids):
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    end = time.time() + 10
    while _alive(pids) and time.time() < end:
        time.sleep(0.1)


# ---- one run ----------------------------------------------------------------


def prepare(root: str, cache: str, workload: str, seed: int, scale: str):
    """Inputs and expected hashes for this run."""
    if workload == "movielens_cli":
        data = inputs.movielens_csvs(cache, seed, scale)
    else:
        data = inputs.table_dir(cache, scale)
    return data, inputs.expected_hashes(root, cache, workload, data)


def measure(args, root: str, cache: str, started: float) -> dict:
    data, expected = prepare(root, cache, args.workload, args.seed, args.scale)
    prepared = time.time()
    run_dir = os.path.join(cache, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp, local, out = (os.path.join(run_dir, d) for d in ("tmp", "local", "out"))
    for d in (tmp, local, out):
        os.makedirs(d)
    spec = dict(
        root=root,
        workload=args.workload,
        queries=inputs.WORKLOADS[args.workload],
        seed=args.seed,
        passes=max(1, round(args.seconds / inputs.PASS_SECONDS[args.workload])),
        trace=bool(args.trace),
        data=data,
        expected=expected,
        out_dir=out,
        deadline=started + WORKER_PASS_LIMIT,
    )
    spec_path = os.path.join(run_dir, "spec.json")
    result_path = os.path.join(run_dir, "result.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(cores()),
        PYTHONPATH=root,
        # The JVM's perf-data file ignores java.io.tmpdir and goes to /tmp.
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options -Xms{INITIAL_HEAP} pyspark-shell",
    )
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), spec_path, result_path],
        cwd=run_dir,
        env=env,
        stdout=sys.stderr,
        start_new_session=True,
    )
    watch = TreeWatch(proc.pid)
    watch.start()
    code = None
    try:
        try:
            code = proc.wait(timeout=max(started + WORKER_KILL_AFTER - time.time(), 1))
        except subprocess.TimeoutExpired:
            pass
        finally:  # also on SIGTERM or Ctrl-C: never leave the worker tree behind
            watch.done.set()
            watch.join()
            exited = time.time()
            reap(watch.seen | {proc.pid}, grace=0 if code is None else 15)
            proc.wait()
        if code != 0:
            why = "timed out" if code is None else f"exited {code}"
            raise SystemExit(f"perfbench: worker {why}")
        with open(result_path) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    phases = dict(prepare_s=prepared - started, worker_s=exited - prepared,
                  reap_s=time.time() - exited)
    result["phases"].update(phases)
    result["peak_rss_mb"] = watch.peak / 2**20
    result["peak_rss_split"] = watch.peak_split
    result["input_bytes"] = inputs.input_bytes(data)
    result["data"] = data
    return result


def summarize(result: dict, ncores: int) -> tuple[dict, dict, dict]:
    untraced = [s for s in result["samples"] if not s["traced"]]
    traced = [s for s in result["samples"] if s["traced"] and s.get("ok")]
    timed = [s for s in untraced if s.get("ok")]
    walls = [s["wall_s"] for s in timed]
    tail_value, n_queries = tail(timed)
    plain = [p for p in result["passes"] if not p["traced"]]
    e2e = {
        "setup_s": result["setup"]["setup_s"],
        "first_query_s": statistics.fmean(result["cold_walls"].values()),
        "query_p50_s": statistics.median(walls),
        "query_tail_s": tail_value,
        "queries_per_min": 60.0 * len(walls) / sum(p["seconds"] for p in plain),
        "peak_rss_mb": result["peak_rss_mb"],
    }
    info = {"tail_queries": n_queries, "samples": len(walls), "uncovered": []}
    layers = {}
    if traced:
        busy = sum(s["action_s"] for s in traced) * ncores
        whole_run = {
            "session.start_s": result["setup"]["session_s"],
            "registry.load_s": result["setup"]["registry_s"],
            "exec.core_util": sum(s.get("task_s", 0.0) for s in traced) / busy,
        }
        for name, (_, key) in PER_LAYER.items():
            layers[name] = (
                statistics.fmean(s.get(key, 0.0) for s in traced)
                if key
                else whole_run[name]
            )
        info["traced_p50_s"] = statistics.median(s["wall_s"] for s in traced)
        info["tracing_overhead_s"] = info["traced_p50_s"] - e2e["query_p50_s"]
        info["span_coverage_min"] = min(
            (s["build_s"] + s["action_s"]) / s["wall_s"] for s in traced
        )
        info["uncovered"] = uncovered(traced)
    info["failed"] = result["failed"] + len(info["uncovered"])
    info["failed_frac"] = info["failed"] / result["attempted"]
    return e2e, layers, info


def report(args, result: dict, e2e: dict, layers: dict, info: dict, ncores: int) -> None:
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"local[{ncores}]  closed loop, 1 client")
    data = result["data"]
    if isinstance(data, str):
        print(f"inputs   {data}  {result['input_bytes']} bytes of parquet")
    else:
        for p in data:
            print(f"inputs   {p}  {os.path.getsize(p)} bytes")
    print("store state: cold at start (private TMPDIR), built during warm-up")
    print(f"oracle checks: {result['checks']}")
    print("run phases: " + "  ".join(f"{k} {v:.3g}" for k, v in result["phases"].items()))
    print(f"attempted {result['attempted']}  failed {info['failed']}  "
          f"failed_frac {info['failed_frac']:.4f}")
    for name, value in e2e.items():
        print(f"  {name:<16} {value:12.4f} {END_TO_END[name]}")
    print("  at peak RSS: " + "  ".join(
        f"{kind} {rss / 2**20:.0f} MB in {n} process(es)"
        for kind, (rss, n) in sorted(result.get("peak_rss_split", {}).items())))
    print("  first executions (s): " + "  ".join(
        f"{q} {v:.3g}" for q, v in result["cold_walls"].items()))
    print(f"  query_tail_s is p90 over {info['tail_queries']} per-query medians "
          f"of {info['samples']} samples")
    if not layers:
        return
    for name, value in layers.items():
        print(f"  {name:<22} {value:16.4f} {PER_LAYER[name][0]}")
    print(f"tracing overhead: traced p50 {info['traced_p50_s']:.4f} s - untraced p50 "
          f"{e2e['query_p50_s']:.4f} s = {info['tracing_overhead_s']:+.4f} s")
    print(f"span coverage: min over queries of (build + action) / wall = "
          f"{info['span_coverage_min']:.4f}; below {COVERAGE_FLOOR} (failed): "
          f"{', '.join(info['uncovered']) or 'none'}")
    cols = ["wall_s", "build_s", "action_s", "plan_s", "build_jobs", "jobs",
            "stages", "tasks", "driver_gap_s", "task_s", "scan_bytes",
            "shuffle_write_bytes", "sql_executions"]
    print("per query, median over traced executions:")
    print("  " + " ".join(f"{c:>12}" for c in ["query"] + cols))
    for q in inputs.WORKLOADS[args.workload]:
        rows = [s for s in result["samples"] if s["traced"] and s.get("ok") and s["query"] == q]
        if rows:
            vals = [statistics.median(r.get(c, 0) for r in rows) for c in cols]
            print("  " + f"{q[:24]:>24} " + " ".join(f"{v:12.4g}" for v in vals))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(inputs.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is for the benchmark's own smoke test")
    args = p.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    started = time.time()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: run from the repository root ({PACKAGE}/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    cache = os.path.join(root, ".perfbench")
    result = measure(args, root, cache, started)
    ncores = cores()
    e2e, layers, info = summarize(result, ncores)
    report(args, result, e2e, layers, info, ncores)
    if args.trace:
        traces = os.path.join(cache, "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump(dict(spans=result["spans"], samples=result["samples"]), f)
        print(f"spans written to {path}")
    chosen = layers if args.trace else e2e
    units = {k: (PER_LAYER[k][0] if args.trace else END_TO_END[k]) for k in chosen}
    print(json.dumps({
        "correct": info["failed"] == 0,
        "attempted": result["attempted"],
        "failed": info["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
