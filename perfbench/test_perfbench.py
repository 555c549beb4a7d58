"""Tests of the benchmark itself: pure helpers, the BENCHMARK.json
contract, and one smoke run per workload (a few hundred docs).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
from common import (label_hash, pair_f1, parse_event_log,  # noqa: E402
                    summarize)


def test_pair_f1_contingency():
    truth = {"a": 0, "b": 0, "c": 0, "d": 1}
    assert pair_f1(dict(truth), truth) == 1.0
    # all singletons: no predicted pairs, three true pairs
    assert pair_f1({d: d for d in truth}, truth) == 0.0
    # one cluster of everything: 6 predicted, 3 true, 3 shared
    assert pair_f1({d: "x" for d in truth}, truth) == pytest.approx(
        2 * 3 / (6 + 3))
    with pytest.raises(ValueError):
        pair_f1({"a": 1}, truth)


def test_label_hash_ignores_order():
    a = {"d1": "d1", "d2": "d1", "d3": "d3"}
    b = dict(reversed(list(a.items())))
    assert label_hash(a) == label_hash(b)
    assert label_hash(a) != label_hash({**a, "d3": "d1"})


def test_summarize_percentile_needs_ten_beyond():
    assert summarize([3.0, 1.0, 2.0]) == {"median": 2.0, "n": 3,
                                          "pct": None, "pct_value": None}
    s = summarize([float(x) for x in range(100)])
    assert s["pct"] == 90 and s["n"] == 100


def test_event_log_attribution(tmp_path):
    spans = [
        {"id": "pipeline#0", "group": "g/pipeline", "depth": 0,
         "t_start": 100.0, "t_end": 200.0},
        {"id": "score#1", "group": "g/score", "depth": 1,
         "t_start": 150.0, "t_end": 160.0},
    ]
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Submission Time": 120000,
         "Properties": {"spark.jobGroup.id": "g/score"}},
        # no group: attributed by time to the innermost span
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 0],
         "Submission Time": 155000, "Properties": {}},
        # outside every span: ignored
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [2],
         "Submission Time": 300000, "Properties": {}},
    ]
    for stage, reason in ((0, "Success"), (1, "Success"), (1, "Killed"),
                          (2, "Success")):
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": reason},
            "Task Metrics": {"Executor Run Time": 10, "JVM GC Time": 1,
                             "Shuffle Write Metrics":
                             {"Shuffle Bytes Written": 100},
                             "Disk Bytes Spilled": 0}})
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    got = parse_event_log(str(log), spans)
    assert set(got) == {"score#1"}
    assert got["score#1"]["jobs"] == 2
    assert got["score#1"]["tasks"] == 3
    assert got["score#1"]["tasks_failed"] == 1
    assert got["score#1"]["run_ms"] == 30


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"], m["bound"])
            for m in b["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"])
            for m in b["per_layer"]] == run.PER_LAYER
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [w["name"] for w in b["workloads"]] + [
        m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    assert all(name.match(n) for n in names)
    assert all(unit.match(m["unit"]) for m in b["end_to_end"] + b["per_layer"])
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"]
               for w in b["workloads"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_run(workload):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", "1", "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = last_json(proc.stdout)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {n for n, _, _ in run.PER_LAYER}
    assert res["metrics"]["trace_overhead_s"]["unit"] == "s"


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "er_native",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
