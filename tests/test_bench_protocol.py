"""Unit tests for the scaling-protocol estimator (bench.summarize_pairs) —
the pure logic the driver's BENCH record depends on, pinned against the
exact failure modes VERDICT r3 identified."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import bandwidth_probe, summarize_pairs


def test_cold_start_inflation_pair_is_rejected():
    """The r3 driver record's exact shape: pair 1's N leg ran at half
    speed (cold start), producing a super-linear ratio (1.219) that the
    old best-pair+clamp estimator shipped as '1.0'. The new estimator
    must DISCARD that pair (N leg >25% below the best N leg) and take the
    median of the clean ones."""
    r3_driver = [
        (40372.6, 196918.6),  # ratio 1.219 — the inflation pair
        (86989.6, 195050.2),  # 0.561
        (91212.0, 201219.0),  # 0.552
        (76801.7, 160643.1),  # 0.523
    ]
    out = summarize_pairs(r3_driver)
    assert out["rejected_pairs"] == [[40372.6, 196918.6]]
    assert out["efficiency"] == 0.552  # median of [0.561, 0.552, 0.523]
    # headline legs reproduce the efficiency
    assert round(out["tps_4n"] / (4 * out["tps_n"]), 3) == out["efficiency"]


def test_no_clamp_super_linear_median_reported_raw():
    """If the SURVIVING set's median is super-linear (all N legs
    consistent — no rejection basis), the raw number must be reported,
    not clamped: honesty over optics."""
    out = summarize_pairs([(50.0, 210.0), (49.0, 205.0), (51.0, 208.0)])
    assert out["efficiency"] > 1.0
    assert out["rejected_pairs"] == []


def test_median_of_even_survivors():
    out = summarize_pairs([(50.0, 160.0), (50.0, 180.0)])
    assert out["efficiency"] == round((0.8 + 0.9) / 2, 3)


def test_single_pair_passes_through():
    out = summarize_pairs([(50.0, 170.0)])
    assert out["efficiency"] == 0.85
    assert out["tps_n"] == 50.0 and out["tps_4n"] == 170.0


def test_empty_pairs():
    assert summarize_pairs([])["efficiency"] == 0.0


def test_bandwidth_probe_smoke():
    """The exogenous window probe returns a plausible positive GB/s and
    is fast enough to gate scheduling."""
    import time

    t0 = time.time()
    gbs = bandwidth_probe(mb=32, reps=2)
    assert gbs > 0.5
    assert time.time() - t0 < 15


def test_scaling_measurement_protocol_end_to_end(monkeypatch):
    """The whole protocol body, with every leg, probe and input stubbed:
    a NameError or a key mix-up anywhere in it fails here instead of
    shipping as a ``{"error": ...}`` scaling record."""
    import json
    import types

    import bench

    calls: list[list[str]] = []

    def fake_run(cmd, **kwargs):
        calls.append(cmd)
        if "--mp-only" in cmd:
            out = {"ratio": 0.9}
        else:
            cores = int(cmd[cmd.index("--cores") + 1])
            out = {"turns_per_sec": 1000.0 * cores * (0.85 if cores > 2 else 1.0)}
        return types.SimpleNamespace(stdout="noise\n" + json.dumps(out) + "\n")

    paths: list[int] = []
    monkeypatch.setattr(bench.subprocess, "run", fake_run)
    monkeypatch.setattr(bench, "bandwidth_probe", lambda *a, **k: 10.0)
    monkeypatch.setattr(bench, "transcripts_path", lambda n, seed=42: paths.append(n) or "x")
    monkeypatch.setattr(bench, "nproc", lambda: bench.SCALING_4N)

    rec = bench.scaling_measurement()

    assert rec["nproc"] == bench.SCALING_4N
    assert paths == [bench.SCALING_TURNS]
    assert rec["pair_ratios"] == [0.85] * bench.SCALING_PAIRS
    assert rec["probes_gbs"] == [10.0] * bench.SCALING_PAIRS
    assert rec["mp_envelope"] == {"ratio": 0.9}
    assert rec["efficiency"] == 0.85
    assert rec["efficiency_vs_envelope"] == round(0.85 / 0.9, 3)
    # warm-up leg + two legs per pair + the envelope
    assert len(calls) == 1 + 2 * bench.SCALING_PAIRS + 1


def test_scaling_refuses_hosts_smaller_than_the_wide_leg(monkeypatch):
    """With fewer CPUs than the wide leg, taskset masks the pin to the CPUs
    that exist and the wide leg runs oversubscribed. The record must say so
    with an error and the host's nproc, and run no leg at all."""
    import bench

    def no_call(*a, **k):
        raise AssertionError("no leg, probe or input may run")

    monkeypatch.setattr(bench.subprocess, "run", no_call)
    monkeypatch.setattr(bench, "bandwidth_probe", no_call)
    monkeypatch.setattr(bench, "transcripts_path", no_call)
    monkeypatch.setattr(bench, "nproc", lambda: bench.SCALING_4N - 1)

    rec = bench.scaling_measurement()

    assert rec["nproc"] == bench.SCALING_4N - 1
    assert "nproc" in rec["error"]
    assert "efficiency" not in rec and "pair_ratios" not in rec
