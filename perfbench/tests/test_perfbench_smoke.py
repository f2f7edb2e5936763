"""Short end-to-end runs of each workload at sf0.001 (about a minute each)."""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = ["perfbench/run.py", "--seed", "7", "--seconds", "1", "--sf", "0.001"]


def bench():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(cwd, *args, timeout=180):
    return subprocess.run([sys.executable, *RUN, *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


@pytest.mark.slow
@pytest.mark.parametrize("workload", [w["name"] for w in bench()["workloads"]])
def test_workload_runs_correctly(workload):
    out = run(REPO, "--workload", workload, "--trace", "0")
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in bench()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


def bypass_checks(workload, m):
    """The readings each workload's traced run must show."""
    pipeline = [k for k in m if k.startswith("pipeline.")]
    if workload == "operators":
        assert all(m[k] == 0 for k in pipeline)
        assert m["group.relational.python_bytes"] == 0
        assert m["group.corpus.python_bytes"] == 0
        assert m["group.udf.python_bytes"] > 0
        assert m["spark.python_bytes"] == m["group.udf.python_bytes"]
        assert m["streaming.batches"] > 0 and m["streaming.state_rows"] > 0
        assert m["operators.build_s"] > 0 and m["spark.jobs"] > 0
    else:
        assert m["streaming.batches"] == 0 and m["operators.build_s"] == 0
        assert m["spark.python_bytes"] == 0
        assert m["pipeline.memory_hit_ratio"] > 0
        assert m["pipeline.served.fixture_source"] > 0
        assert m["pipeline.writeback_rows"] > 0


@pytest.mark.slow
@pytest.mark.parametrize("workload", [w["name"] for w in bench()["workloads"]])
def test_traced_run_reports_every_layer_metric(workload):
    out = run(REPO, "--workload", workload, "--trace", "1")
    assert out.returncode == 0, out.stderr[-3000:]
    metrics = json.loads(out.stdout.strip().splitlines()[-1])["metrics"]
    assert list(metrics) == [m["name"] for m in bench()["per_layer"]]
    bypass_checks(workload, {k: v["value"] for k, v in metrics.items()})
    trace = [line for line in out.stdout.splitlines() if line.startswith("trace ")]
    path = os.path.join(REPO, trace[0].split(" ", 1)[1])
    with open(path) as fh:
        spans = [json.loads(line) for line in fh][1:]
    os.remove(path)
    assert spans and len({s["run_id"] for s in spans}) == 1


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".runs", "traces", "__pycache__"))
    out = run(tmp_path, "--workload", "operators", "--trace", "0", timeout=60)
    assert out.returncode != 0
    assert out.stdout.strip() == ""


def test_refuses_more_cores_than_usable():
    out = run(REPO, "--workload", "operators", "--cores",
              str(len(os.sched_getaffinity(0)) + 1), timeout=60)
    assert out.returncode != 0 and "--cores" in out.stderr
