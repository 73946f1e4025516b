"""The SQL-execution classifier on plan strings recorded from run_pipeline,
and the reading of SQL metric display strings."""

import json
from pathlib import Path

import pytest

from perfbench.harvest import classify, insert_target, metric_value

PLANS = json.loads((Path(__file__).parent / "plans.json").read_text())


@pytest.mark.parametrize("case", PLANS, ids=[c["expected"] for c in PLANS])
def test_recorded_plans_classify_by_insert_target(case):
    assert classify(case["plan"]) == case["expected"]


def test_wave_plan_scanning_staged_is_not_staging():
    # every wave plan scans staged/; only the insert target names the layer
    wave = next(c["plan"] for c in PLANS if c["expected"] == "pipeline.decisions_write")
    assert "/out/staged]" in wave
    assert insert_target(wave) == "decisions"


def test_resume_check_is_the_lineage_scan_without_insert():
    plan = "== Physical Plan ==\n* HashAggregate (5)\n...\n(1) Scan parquet \nOutput [3]: [bucket#1]\nBatched: true\nLocation: InMemoryFileIndex [file:/data/run/out/lineage]\n"
    assert classify(plan) == "pipeline.resume_check"
    assert classify("== Physical Plan ==\nLocalTableScan (1)\n") == "pipeline.other_sql"


def test_unknown_insert_target():
    plan = "(3) Execute InsertIntoHadoopFsRelationCommand\nInput: []\nArguments: file:/x/out/bloom, false, Parquet\n"
    assert classify(plan) == "pipeline.other_write"


@pytest.mark.parametrize(
    "text, value",
    [
        ("total (min, med, max (stageId: taskId))\n9.9 s (235 ms, 2.0 s, 2.4 s (stage 7.0: task 7))", 9.9),
        ("284 ms", 0.284),
        ("1.5 m", 90.0),
        ("871.0 KiB", 871.0 * 1024),
        ("total (min, med, max (stageId: taskId))\n1216.2 KiB (488.0 B, 15.2 KiB)", 1216.2 * 1024),
        ("2,628", 2628.0),
        ("0.0 B", 0.0),
    ],
)
def test_metric_value(text, value):
    assert metric_value(text) == pytest.approx(value)


def test_metric_value_rejects_unknown_units():
    with pytest.raises(ValueError):
        metric_value("3 parsecs")
