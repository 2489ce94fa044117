"""Smoke tests of the benchmark on tiny inputs (sf0.001 tables, a 500-doc
corpus): every workload runs end to end, passes its output checks and
prints the metrics ``BENCHMARK.json`` names.

    python -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run_bench(cwd: str, workload: str, trace: int = 0, smoke: bool = True):
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace)] + (["--smoke"] if smoke else [])
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


# catalog_queries is not in BENCHMARK.json but still runs by name
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]] + ["catalog_queries"])
def test_workload_smoke(workload):
    proc = run_bench(ROOT, workload)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


def test_traced_smoke_reports_layers():
    proc = run_bench(ROOT, "clone_sync", trace=1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"]
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in SPEC["per_layer"]}
    for name in ("spark.jobs", "io.load_calls", "merge.upsert_s", "clone.table_s_p50",
                 "op.clone_database_s", "trace.ops_per_s"):
        assert metrics[name]["value"] > 0, name


def test_fails_without_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    proc = run_bench(str(tmp_path), "catalog_queries", smoke=False)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_end_children_ends_orphans():
    # a shell that backgrounds a sleeper and exits leaves an orphan, as the
    # JVM leaves its Python worker daemon
    script = (
        f"import subprocess, sys; sys.path.insert(0, {os.path.join(ROOT, 'perfbench')!r}); import run\n"
        "run.adopt_orphans()\n"
        "out = subprocess.run(['sh', '-c', 'sleep 60 >/dev/null 2>&1 & echo $!'],\n"
        "                     capture_output=True, text=True).stdout\n"
        "print(out.strip(), flush=True)\n"
        "run.end_children(grace=1.0)\n"
    )
    proc = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True, timeout=60)
    assert proc.returncode == 0, proc.stderr
    assert not os.path.exists(f"/proc/{int(proc.stdout)}")


def test_event_log_attribution(tmp_path):
    from measure import attribute_jobs, parse_event_log

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1500, "Stage IDs": [0]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2500, "Stage IDs": [1]},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 40, "Executor CPU Time": 2e7, "JVM GC Time": 5,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs, stages = parse_event_log(str(tmp_path))
    assert [j["id"] for j in jobs] == [0, 1]
    assert stages[0]["tasks"] == 1 and stages[0]["shuffle_write"] == 100
    assert abs(stages[0]["cpu_s"] - 0.02) < 1e-9
    spans = [("op", "q", 1.0, 3.0), ("io", "load", 1.2, 1.8)]
    assert attribute_jobs(jobs, spans) == {0: "io", 1: "op"}


def test_covered_counts_overlap_once():
    from measure import covered

    spans = [("build", "q", 0.0, 10.0), ("io", "a", 1.0, 4.0), ("io", "b", 2.0, 5.0),
             ("io", "c", 9.0, 12.0)]
    assert covered(spans, "io") == 7.0
    assert covered(spans, "io", "build") == 5.0
