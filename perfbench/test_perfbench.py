"""Tests of the benchmark itself (not collected by the tier-1 run of tests/).

    python -m pytest perfbench -q

The smoke runs use the generator's ``tiny`` scale, so each takes about half
a minute, most of it Spark start-up.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run  # noqa: E402
from worker import union_length  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_what_run_py_reports():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(inputs.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: unit for k, (unit, _) in run.PER_LAYER.items()
    }


def test_tail_is_p90_of_per_query_medians():
    samples = [
        dict(query=f"q{i}", wall_s=w)
        for i in range(10)
        for w in (i + 0.5, i + 1.0, i + 9.0)  # one slow outlier per query
    ]
    assert run.tail(samples) == (9.0, 10)  # second slowest query's median
    two = [dict(query="a", wall_s=1.0), dict(query="b", wall_s=3.0),
           dict(query="b", wall_s=2.0)]
    assert run.tail(two) == (2.5, 2)


def test_span_coverage_below_floor_counts_as_failed():
    traced = [
        dict(tag="a#1", build_s=0.2, action_s=0.75, wall_s=1.0),
        dict(tag="b#2", build_s=0.1, action_s=0.4, wall_s=1.0),
    ]
    assert run.uncovered(traced) == ["b#2"]
    result = dict(
        setup=dict(setup_s=1.0, session_s=0.9, registry_s=0.1),
        cold_walls={"a": 2.0, "b": 2.0},
        samples=[dict(s, query=s["tag"][0], traced=True, ok=True) for s in traced]
        + [dict(query="a", wall_s=1.0, traced=False, ok=True)],
        passes=[dict(traced=False, seconds=1.0, n=1)],
        peak_rss_mb=100.0,
        attempted=3,
        failed=0,
    )
    _, _, info = run.summarize(result, ncores=4)
    assert info["uncovered"] == ["b#2"] and info["failed"] == 1


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4
    assert union_length([]) == 0


@pytest.mark.parametrize("workload,trace", [("relational", 1), ("movielens_cli", 0)])
def test_smoke_run_prints_every_metric(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    spec = _spec()
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted
    }
    printed = {tuple(line.split()[::2]) for line in lines[:-1] if len(line.split()) == 3}
    for m in spec["end_to_end"] + (spec["per_layer"] if trace else []):
        assert (m["name"], m["unit"]) in printed, m["name"]
    if trace:  # the candidate queries run Spark jobs while they build
        with open(os.path.join(ROOT, ".perfbench", "traces", f"{workload}-seed1.json")) as f:
            traced = [s for s in json.load(f)["samples"] if s["traced"]]
        for query in ("semantic_dedup", "search_bm25_stored_index"):
            assert all(s["build_jobs"] > 0 for s in traced if s["query"] == query), query


def test_refuses_to_run_outside_a_checkout(tmp_path):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "relational",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0 and not out.stdout.strip()
