"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload on ``local[--cores]`` (default: every CPU this process
may use) from a single closed-loop client and prints, as the last line of
standard output, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The line before it is the host record. The
full record of the run (per-op times, spans, checks) is written under
``.bench_work/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def process_start_epoch() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def parse_args(argv=None) -> argparse.Namespace:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="length of the timed loop")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None, help="local[cores]; at most nproc")
    ap.add_argument("--turns", type=int, default=None, help="input size (tests use ~2000)")
    return ap.parse_args(argv)


DEFAULT_TURNS = {"filter_cold": 10_000, "filter_dedup_rollup": 10_000, "review_decisions": 5_000}


def end_to_end(out, setup_s: float) -> dict[str, float]:
    wall = statistics.median(out.walls)
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "rows_per_s": out.rows_per_op / wall,
        "out_bytes_per_in_byte": out.out_bytes_per_in_byte,
        "peak_rss_mb": out.peak_rss_mb,
        "ok_frac": 1.0 - out.failed / out.attempted,
    }


def main(argv=None) -> int:
    t_process = process_start_epoch()
    args = parse_args(argv)
    from perfbench import host
    from perfbench.workloads import END_TO_END, PER_LAYER, WORKLOADS

    cores = args.cores or host.nproc()
    host.check_cores(cores)
    work = ROOT / ".bench_work" / args.workload
    pythonpath = host.confine_scratch(work)
    t_probe = time.time()
    record = {"host": host.host_record(cores), "probe_gbs": host.bandwidth_probe_gbs(host.nproc())}
    probe_s = record["probe_s"] = time.time() - t_probe
    turns = args.turns or DEFAULT_TURNS[args.workload]
    record.update(workload=args.workload, seed=args.seed, turns=turns, trace=args.trace)

    t0 = time.perf_counter()
    spark = host.start_spark(work, cores, pythonpath)
    session_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed, turns)
        wl.setup()
        wl.setup_layers["session.get_spark_s"] = session_s
        # process start to ready, without the host probe (a control)
        setup_s = time.time() - t_process - probe_s
        t_measure = time.time()
        steal0, total0 = host.cpu_ticks()
        out = wl.measure(args.seconds, bool(args.trace))
        steal1, total1 = host.cpu_ticks()
        record["measure_s"] = time.time() - t_measure
        record["steal_frac"] = (steal1 - steal0) / max(total1 - total0, 1)
    finally:
        t_stop = time.time()
        host.stop_spark(spark)
        record["stop_s"] = time.time() - t_stop

    if not out.walls:
        print(f"error: every timed operation failed: {out.problems[:5]}", file=sys.stderr)
        return 1
    if args.trace:
        units = {name: unit for name, unit, _ in PER_LAYER}
        values = out.layers
    else:
        units = {name: unit for name, unit, _ in END_TO_END}
        values = end_to_end(out, setup_s)
    record.update(
        walls=out.walls, cpus=out.cpus, resume_walls=out.resume_walls, problems=out.problems, extra=out.extra,
        setup_layers=wl.setup_layers, metrics=values, spans=out.spans,
    )
    records = ROOT / ".bench_work" / "records"
    records.mkdir(parents=True, exist_ok=True)
    (records / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1, default=str)
    )
    for p in out.problems:
        print(f"check failed: {p}", file=sys.stderr)
    print(json.dumps({"host": record["host"], "probe_gbs": record["probe_gbs"]}))
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {name: {"value": float(values[name]), "unit": unit} for name, unit in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
