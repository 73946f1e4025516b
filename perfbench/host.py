"""Host record, the core-count guard, process-tree memory, and the Spark
session the benchmark drives."""

from __future__ import annotations

import os
import platform
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent  # the checkout being measured


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def check_cores(cores: int) -> None:
    """Refuse to measure ``local[cores]`` on fewer CPUs: an oversubscribed
    run would report a number for a machine that does not exist."""
    if cores < 1 or cores > nproc():
        raise SystemExit(f"error: --cores {cores} is outside 1..{nproc()} (nproc); no result reported")


def java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    # JAVA_TOOL_OPTIONS makes the JVM print a "Picked up ..." line first
    lines = [ln for ln in (out.stderr or out.stdout).splitlines() if not ln.startswith("Picked up")]
    return lines[0] if lines else "unknown"


def host_record(cores: int) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "cores_used": cores,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java_version(),
    }


def bandwidth_probe_gbs(threads: int) -> float:
    """The repository's DRAM copy-bandwidth probe, recorded before a run
    as a control for neighbours on the host, never as a metric."""
    sys.path.insert(0, str(ROOT))
    from bench import bandwidth_probe

    return bandwidth_probe(threads=threads)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _tree(root_pid: int | None = None) -> list[int]:
    kids = _children()
    todo, pids = [root_pid or os.getpid()], []
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(kids.get(pid, []))
    return pids


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants, reaped children included. Time the host steals from the
    guest is not in it."""
    ticks = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb(root_pid: int | None = None) -> float:
    """Sum of ``VmHWM`` (peak resident set) over a process and all its
    descendants: here the benchmark, the JVM and its Python workers."""
    total_kb = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot: a run's steal share is a
    control for neighbours on the host, like the bandwidth probe."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


def confine_scratch(work: Path) -> str:
    """Point every scratch path of this process and its children (the
    JVMs, ``java -version`` included, and the Python workers) inside
    ``work``; returns the PYTHONPATH the workers need.

    Python workers are started by the JVM and find ``piperider_spark`` only
    through PYTHONPATH, so the checkout root is put there explicitly;
    otherwise the workers fail with ModuleNotFoundError whenever the
    benchmark is launched from another working directory.

    ``get_spark`` puts shuffle and spill files on /dev/shm; SPARK_LOCAL_DIRS
    (which it reads) moves them into ``work`` instead, because a benchmark
    run may write nothing outside its checkout."""
    import tempfile

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    pythonpath = os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    os.environ["PYTHONPATH"] = pythonpath
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # no hsperfdata files under /tmp; JVM temp files stay in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return pythonpath


def start_spark(work: Path, cores: int, pythonpath: str):
    """``local[cores]`` with the warehouse and workers' path set; call
    :func:`confine_scratch` first.

    The driver heap is 2g, not the session's 8g default. With 8g the JVM's
    heap grows to a size that depends on GC timing, and ``peak_rss_mb``
    spread 0.14-0.23 (IQR / median) over ten seeds, against about 0.06 at
    2g; op times did not differ beyond the host's noise."""
    from piperider_spark.session import get_spark

    return get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.executorEnv.PYTHONPATH": pythonpath,
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
