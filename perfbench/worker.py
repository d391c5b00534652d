"""The measured process: one workload, one Spark session, one client.

``run.py`` starts this in a fresh interpreter with an isolated TMPDIR,
SPARK_LOCAL_DIRS and output directory, and passes a JSON spec. Queries run
one at a time (a closed loop with a single caller); every call into the
engine's public functions is timed from outside:

- ``session.get_session`` and the first ``registry.queries()`` (set-up);
- the query function ``queries()[name](spark, dir)`` (build) and the noop
  save (action) for parquet workloads;
- ``cli.run([...])`` for ``movielens_cli``, whose traced split puts the
  ``sources.writers.write_table`` call in the action.

Order of work: set-up; a check pass that runs every query once in list order
and compares its result with the DuckDB-oracle hash (timed as each query's
first execution in a fresh session, and the run's warm-up); then ``passes``
timed passes in a seeded order. With tracing on, twice as many
timed passes alternate between untraced and traced, so the tracing overhead
is measured in the same process; only traced passes set job groups, read
the monitoring REST API and time ``plans.explain.executed_plan``.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import time
import traceback
import urllib.request
from datetime import datetime

clock = time.perf_counter


class Run:
    def __init__(self, spec: dict):
        self.spec = spec
        self.names = spec["queries"]
        self.workload = spec["workload"]
        self.expected = spec["expected"]
        self.samples: list[dict] = []
        self.spans: list[dict] = []
        self.checks: dict[str, str] = {}
        self.attempted = 0
        self.failed = 0
        self.seq = 0

    # ---- spans and failures ----

    def span(self, name: str, start: float, end: float, parent=None, **attrs):
        self.seq += 1
        self.spans.append(
            dict(id=self.seq, name=name, start=start, end=end, parent=parent, **attrs)
        )
        return self.seq

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: {self.workload} {what}", file=sys.stderr)

    # ---- one query execution ----

    def execute(self, name: str, collect: bool = False, trace: bool = False) -> dict:
        """Run ``name`` once; returns its timings (build_s, action_s, wall_s).

        ``collect`` makes the action a ``toPandas`` whose result is checked
        against the oracle (parquet workloads); CLI results are read back
        and checked on every execution, outside the measured interval."""
        self.attempted += 1
        tag = f"{name}#{self.attempted}"
        rec = dict(query=name, tag=tag, traced=trace)
        try:
            if self.workload == "movielens_cli":
                self._cli(name, tag, rec, trace)
            else:
                self._parquet(name, tag, rec, trace, collect)
        except Exception:  # keep measuring: a failed query is counted
            self.fail(f"{tag} raised:\n{traceback.format_exc()}")
            rec["ok"] = False
        return rec

    def _group(self, trace: bool, group: str) -> None:
        if trace:
            self.sc.setJobGroup(group, group)

    def _parquet(self, name, tag, rec, trace, collect):
        w0 = clock()
        self._group(trace, f"{tag}:build")
        t0 = clock()
        df = self.queries[name](self.spark, self.spec["data"])
        t1 = clock()
        self._group(trace, f"{tag}:action")
        t1a = clock()
        if collect:
            frame = df.toPandas()
        else:
            df.write.format("noop").mode("overwrite").save()
        t2 = clock()
        rec.update(build_s=t1 - t0, action_s=t2 - t1a, wall_s=t2 - w0, ok=True)
        if collect:
            rec["ok"] = self._check(name, frame)
        if trace:
            self._trace_spans(rec, w0, (t0, t1), (t1a, t2))
            self._plan(df, tag, rec)

    def _cli(self, name, tag, rec, trace):
        from mapreducemovieanalysis_cloud_spark import cli

        out = os.path.join(self.spec["out_dir"], tag.replace("#", "-"))
        movies, ratings = self.spec["data"]
        marks = {}
        real_write = cli.write_table
        if trace:

            def timed_write(df, path, **kw):
                marks["build_end"] = clock()
                marks["df"] = df
                self._group(True, f"{tag}:action")
                marks["action_start"] = clock()
                real_write(df, path, **kw)

            cli.write_table = timed_write
        try:
            w0 = clock()
            self._group(trace, f"{tag}:build")
            t0 = clock()
            path = cli.run([name, movies, ratings, out], spark=self.spark)
            t2 = clock()
        finally:
            cli.write_table = real_write
        rec.update(action_s=t2 - t0, wall_s=t2 - w0)
        if trace:
            t1, t1a = marks["build_end"], marks["action_start"]
            rec.update(build_s=t1 - t0, action_s=t2 - t1a)
        frame = self.inputs.read_pipeline_output(path, name)
        rec["ok"] = self._check(name, frame) and self._ordered(name, frame)
        shutil.rmtree(out, ignore_errors=True)
        if trace:
            self._trace_spans(rec, w0, (t0, t1), (t1a, t2))
            self._plan(marks["df"], tag, rec)

    def _ordered(self, name: str, frame) -> bool:
        """The CLI writes in descending order of the ranked column."""
        key = frame["num_reviews" if name == "rank" else "avg_rating"]
        if key.is_monotonic_decreasing:
            return True
        self.fail(f"{name}: output is not in descending order")
        return False

    def _check(self, name: str, frame) -> bool:
        got = self.inputs.result_hash(self.spec["root"], frame)
        if got != self.expected[name]:
            self.checks[name] = "MISMATCH"
            self.fail(f"{name}: result differs from the DuckDB oracle")
            return False
        self.checks.setdefault(name, "ok")
        return True

    def _trace_spans(self, rec, w0, build, action):
        q = self.span("query", w0, action[1], query=rec["query"], tag=rec["tag"])
        self.span("queries.build", *build, q)
        self.span("exec.action", *action, q)
        rec["span_id"] = q

    def _plan(self, df, tag, rec):
        from mapreducemovieanalysis_cloud_spark.plans.explain import executed_plan

        self._group(True, f"{tag}:plan")
        t0 = clock()
        executed_plan(df)
        t1 = clock()
        self.span("plans.executed_plan", t0, t1, rec["span_id"])
        rec["plan_s"] = t1 - t0

    # ---- the run ----

    def main(self) -> dict:
        spec = self.spec
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        import inputs

        self.inputs = inputs
        from mapreducemovieanalysis_cloud_spark import registry, session

        t0 = clock()
        self.spark = session.get_session()
        t1 = clock()
        self.queries = registry.queries()
        t2 = clock()
        self.sc = self.spark.sparkContext
        self.span("session.get_session", t0, t1)
        self.span("registry.queries", t1, t2)
        setup = dict(setup_s=t2 - t0, session_s=t1 - t0, registry_s=t2 - t1)

        # Warm-up: the check pass, each query's first execution in this
        # session. The JIT keeps speeding up later passes too, but a run's
        # pass count is fixed, so every run samples the same stretch of it.
        cold = [self.execute(name, collect=True) for name in self.names]
        warmup_s = clock() - t2

        rng = random.Random(spec["seed"])
        cpu0 = _cpu_jiffies()
        start = clock()
        pass_times = []
        for n in range(spec["passes"] * (2 if spec["trace"] else 1)):
            if time.time() > spec["deadline"]:
                break
            # U T T U U T ...: traced and untraced passes take turns going
            # first, so the warm-up still under way favours neither.
            traced = spec["trace"] and n % 4 in (1, 2)
            order = list(self.names)
            rng.shuffle(order)
            p0 = clock()
            group = [self.execute(name, trace=traced) for name in order]
            pass_times.append(dict(traced=traced, seconds=clock() - p0, n=len(group)))
            if traced:
                self._monitor(group)
            self.samples.extend(group)
        timed_s = clock() - start
        cpu1 = _cpu_jiffies()
        t3 = clock()
        self.spark.stop()
        phases = dict(warmup_s=warmup_s, timed_s=timed_s, stop_s=clock() - t3)
        # Share of CPU time the hypervisor gave to other guests while the
        # timed passes ran: the machine noise no benchmark setting removes.
        phases["steal_share"] = (cpu1[1] - cpu0[1]) / max(cpu1[0] - cpu0[0], 1)
        return dict(
            setup=setup,
            cold_walls={r["query"]: r["wall_s"] for r in cold if r.get("ok")},
            samples=self.samples,
            passes=pass_times,
            phases=phases,
            attempted=self.attempted,
            failed=self.failed,
            checks=self.checks,
            spans=self.spans,
        )

    # ---- monitoring REST API (traced passes only) ----

    def _rest(self, path: str):
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        url = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}/{path}"
        opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))
        with opener.open(url, timeout=10) as resp:
            return json.load(resp)

    def _settled(self, group: list[dict]):
        """Job ids per (query tag, phase) from ``statusTracker()`` and the
        /jobs records, once the status listener has caught up: every action
        has run at least one job and every job listed has ended."""
        tracker = self.sc.statusTracker()
        deadline = time.time() + 20
        while True:
            ids = {
                (rec["tag"], phase): set(
                    tracker.getJobIdsForGroup(f"{rec['tag']}:{phase}")
                )
                for rec in group
                for phase in ("build", "action")
            }
            jobs = {j["jobId"]: j for j in self._rest("jobs")}
            caught_up = all(ids[(r["tag"], "action")] for r in group if r.get("ok"))
            ended = all(
                jobs.get(j, {}).get("status") in ("SUCCEEDED", "FAILED")
                for js in ids.values()
                for j in js
            )
            if (caught_up and ended) or time.time() > deadline:
                return ids, jobs
            time.sleep(0.1)

    def _monitor(self, group: list[dict]) -> None:
        ids, jobs = self._settled(group)
        stages = {}
        for s in self._rest("stages?status=complete"):
            stages[s["stageId"]] = s
        sql_by_job = {}
        for e in self._rest("sql?details=false&offset=0&length=100000"):
            for j in e.get("successJobIds", []) + e.get("failedJobIds", []):
                sql_by_job[j] = e
        for rec in group:
            if not rec.get("ok"):
                continue
            action = sorted(ids[(rec["tag"], "action")])
            rec["build_jobs"] = len(ids[(rec["tag"], "build")])
            rec["jobs"] = len(action)
            stage_ids = {s for j in action if j in jobs for s in jobs[j]["stageIds"]}
            done = [stages[s] for s in stage_ids if s in stages]
            rec["stages"] = len(done)
            rec["tasks"] = sum(s["numCompleteTasks"] for s in done)
            total = lambda k: sum(s.get(k, 0) for s in done)  # noqa: E731
            rec["task_s"] = total("executorRunTime") / 1e3
            rec["cpu_s"] = total("executorCpuTime") / 1e9
            rec["gc_s"] = total("jvmGcTime") / 1e3
            rec["scan_bytes"] = total("inputBytes")
            rec["scan_rows"] = total("inputRecords")
            rec["write_bytes"] = total("outputBytes")
            rec["write_rows"] = total("outputRecords")
            rec["shuffle_write_bytes"] = total("shuffleWriteBytes")
            rec["shuffle_read_bytes"] = total("shuffleReadBytes")
            rec["fetch_wait_s"] = total("shuffleFetchWaitTime") / 1e3
            rec["spill_bytes"] = total("diskBytesSpilled")
            intervals = [
                (_ms(jobs[j]["submissionTime"]), _ms(jobs[j]["completionTime"]))
                for j in action
                if j in jobs and "completionTime" in jobs[j]
            ]
            busy = union_length(intervals) / 1e3
            rec["driver_gap_s"] = max(rec["action_s"] - busy, 0.0)
            sqls = {sql_by_job[j]["id"]: sql_by_job[j] for j in action if j in sql_by_job}
            rec["sql_executions"] = len(sqls)


def _cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def _ms(stamp: str) -> float:
    """Milliseconds since the epoch from a REST timestamp such as
    ``2026-01-01T10:00:00.123GMT``."""
    parsed = datetime.strptime(stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z")
    return parsed.timestamp() * 1e3


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        run = Run(json.load(f))
    result = run.main()
    with open(sys.argv[2], "w") as f:
        json.dump(result, f)
