"""Every workload end to end at ~2k turns, launched from outside the
repository root, plus the refusals that must report no number."""

import json
import math
import os
import shutil
import subprocess
import sys
from pathlib import Path

from perfbench.workloads import END_TO_END, PER_LAYER

ROOT = Path(__file__).resolve().parents[2]
RUN = ROOT / "perfbench" / "run.py"


def run(args, cwd, timeout=600):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run([sys.executable, str(RUN), *args], cwd=cwd, env=env,
                          capture_output=True, text=True, timeout=timeout)


def result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1, proc.stderr[-3000:]
    for m in last["metrics"].values():
        assert set(m) == {"value", "unit"} and math.isfinite(m["value"])
    return {k: m["value"] for k, m in last["metrics"].items()}


SMALL = ["--seed", "3", "--seconds", "1", "--turns", "2000"]


def test_filter_cold_end_to_end(tmp_path):
    values = result(run(["--workload", "filter_cold", "--trace", "0", *SMALL], cwd=tmp_path))
    assert list(values) == [name for name, _, _ in END_TO_END]
    assert all(v > 0 for v in values.values())


def test_filter_dedup_rollup_traced(tmp_path):
    values = result(run(["--workload", "filter_dedup_rollup", "--trace", "1", *SMALL], cwd=tmp_path))
    assert list(values) == [name for name, _, _ in PER_LAYER]
    assert values["operators.dedup_sidecar_s"] > 0
    assert values["pipeline.conversations_write_s"] > 0
    assert values["operators.dup_found_frac"] == 1.0
    assert values["signals.python_run_s"] > 0
    assert values["pipeline.resume_check_s"] > 0
    assert 0.5 < values["trace.accounted_frac"] < 2.0


def test_review_decisions_traced(tmp_path):
    values = result(run(["--workload", "review_decisions", "--trace", "1", *SMALL], cwd=tmp_path))
    assert values["signals.python_run_s"] == 0
    assert values["pipeline.decisions_write_s"] == 0
    assert values["profiler.profile_table_s.lineitem"] > 0
    assert values["profiler.jobs_per_table"] >= 1


def test_more_cores_than_nproc_reports_nothing(tmp_path):
    proc = run(["--workload", "filter_cold", "--trace", "0", "--cores", str(len(os.sched_getaffinity(0)) + 1), *SMALL],
               cwd=tmp_path, timeout=120)
    assert proc.returncode != 0
    assert "nproc" in proc.stderr
    assert proc.stdout.strip() == ""


def test_without_the_package_it_fails_without_a_result(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "filter_cold", "--seed", "1",
                           "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True, text=True,
                          timeout=120, env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_benchmark_json_matches_the_metric_lists():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
