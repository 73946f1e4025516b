"""The benchmark's workloads, their output checks and their metrics.

A workload sets up (inputs, warm-up), then runs its timed operation in a
closed loop: one operation at a time, the next only after the previous one
returned and its outputs were checked. Every operation runs under its own
Spark job group, so the status store separates them.
"""

from __future__ import annotations

import dataclasses
import re
import shutil
import statistics
import time
import traceback
import zlib
from dataclasses import dataclass, field
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.harvest import PY_INIT, PY_RETURNED, PY_RUN, PY_SENT, Execution, StatusStore, classify, skew
from perfbench.host import tree_cpu_s, tree_peak_rss_mb
from perfbench.trace import Tracer, layer_self_times, self_times

# (name, unit, better); BENCHMARK.json lists the same metrics
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("rows_per_s", "rows/s", "higher"),
    ("out_bytes_per_in_byte", "ratio", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("ok_frac", "ratio", "higher"),
]
DECISIONS_COLUMNS = [
    "conv_id", "turn_idx", "role", "ts", "keep", "reasons", "lang", "ppl", "text_scrubbed",
]
PER_LAYER = [
    ("session.get_spark_s", "s", "lower"),
    ("datagen.write_s", "s", "lower"),
    ("pipeline.staging_s", "s", "lower"),
    ("pipeline.decisions_write_s", "s", "lower"),
    ("pipeline.metrics_write_s", "s", "lower"),
    ("pipeline.lineage_write_s", "s", "lower"),
    ("pipeline.conversations_write_s", "s", "lower"),
    ("pipeline.other_sql_s", "s", "lower"),
    ("pipeline.driver_s", "s", "lower"),
    ("pipeline.resume_noop_s", "s", "lower"),
    ("pipeline.resume_check_s", "s", "lower"),
    ("pipeline.build_decisions_s", "s", "lower"),
    ("pipeline.sql_executions", "count", "lower"),
    ("pipeline.jobs", "count", "lower"),
    ("pipeline.tasks", "count", "lower"),
    ("pipeline.shuffle_write_bytes", "B", "lower"),
    ("pipeline.spill_bytes", "B", "lower"),
    ("pipeline.peak_exec_mem_bytes", "B", "lower"),
    ("pipeline.task_skew", "ratio", "lower"),
    ("pipeline.keep_frac", "ratio", "higher"),
    *[(f"pipeline.decisions_col_bytes.{c}", "B", "lower") for c in DECISIONS_COLUMNS],
    ("signals.python_run_s", "s", "lower"),
    ("signals.python_init_s", "s", "lower"),
    ("signals.arrow_sent_bytes", "B", "lower"),
    ("signals.arrow_returned_bytes", "B", "lower"),
    ("signals.kernel_rows_per_s", "rows/s", "higher"),
    ("scrub.kernel_rows_per_s", "rows/s", "higher"),
    ("operators.dedup_sidecar_s", "s", "lower"),
    ("operators.dup_found_frac", "ratio", "higher"),
    ("profiler.profile_table_s.lineitem", "s", "lower"),
    ("profiler.profile_table_s.decisions", "s", "lower"),
    ("profiler.jobs_per_table", "count", "lower"),
    ("profiler.compare_reports_s", "s", "lower"),
    ("profiler.diff_decisions_s", "s", "lower"),
    ("profiler.shuffle_write_bytes", "B", "lower"),
    ("profiler.python_run_s", "s", "lower"),
    ("op.cpu_s", "s", "lower"),
    ("trace.wall_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.accounted_frac", "ratio", "higher"),
]

N_BUCKETS = 16
WAVE_BUCKETS = 8
CLONE_FRAC = 0.1
WARM_TURNS = 2000
LINEITEM_ROWS = 50_000
# the review target lowers the perplexity ceiling so real keep→drop flips exist
REVIEW_TARGET_PPL_MAX = 15.0


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


def decisions_column_bytes(decisions: Path) -> dict[str, int]:
    """Compressed bytes per top-level column, from the parquet footers."""
    out = {c: 0 for c in DECISIONS_COLUMNS}
    for f in sorted(Path(decisions).rglob("*.parquet")):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            group = md.row_group(rg)
            for ci in range(group.num_columns):
                col = group.column(ci)
                top = col.path_in_schema.split(".")[0]
                out[top] = out.get(top, 0) + col.total_compressed_size
    return out


def _norm_conv_text(texts: pd.Series) -> str:
    # the pipeline's conversation fingerprint input: turn texts in turn
    # order, NULL as "", \x1e-joined, lower-cased, Java-\s runs collapsed
    joined = "\x1e".join(texts.fillna(""))
    return re.sub(r"[ \t\n\x0b\f\r]+", " ", joined.lower()).strip(" ")


def expected_duplicates(pdf: pd.DataFrame) -> set[str]:
    """Conversations an exact conversation dedup must drop: every member of
    an identical-transcript group except its lexically-first conv_id."""
    ordered = pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    keys = ordered.groupby("conv_id", sort=True)["text"].agg(_norm_conv_text)
    dups: set[str] = set()
    for _, ids in keys.groupby(keys).groups.items():
        if len(ids) > 1:
            dups.update(sorted(ids)[1:])
    return dups


def compare_to_oracle(decisions: pd.DataFrame, oracle: pd.DataFrame) -> tuple[dict, list[str]]:
    """Per-turn agreement of decisions with the oracle's labels over the
    same (conv_id, turn_idx) set: keep F1, exact reasons, byte-exact scrub."""
    problems = []
    m = decisions.merge(oracle, on=["conv_id", "turn_idx"], how="outer",
                        suffixes=("", "_o"), indicator=True)
    stray = int((m["_merge"] != "both").sum())
    if stray:
        problems.append(f"{stray} turns present on only one side of decisions vs oracle")
    m = m[m["_merge"] == "both"]
    k, ko = m["keep"].astype(bool), m["keep_o"].astype(bool)
    tp, fp, fn = int((k & ko).sum()), int((k & ~ko).sum()), int((~k & ko).sum())
    f1 = 2 * tp / (2 * tp + fp + fn) if tp + fp + fn else 1.0

    def as_tuple(v):
        return tuple(v) if v is not None else ()

    reasons_ok = (m["reasons"].map(as_tuple) == m["reasons_o"].map(as_tuple)).mean()
    # the pipeline scrubs the turns it keeps; dropped turns carry NULL
    both = k & ko
    a, b = m.loc[both, "text_scrubbed"], m.loc[both, "text_scrubbed_o"]
    scrub_bad = int((~((a == b) | (a.isna() & b.isna()))).sum())
    if f1 < 0.99:
        problems.append(f"keep F1 {f1:.4f} < 0.99")
    if reasons_ok < 0.99:
        problems.append(f"reasons agree on {reasons_ok:.4f} < 0.99 of turns")
    if scrub_bad:
        problems.append(f"{scrub_bad} turns differ from the oracle's scrubbed bytes")
    return {"keep_f1": f1, "reasons_agree": float(reasons_ok), "keep_frac": float(k.mean())}, problems


def expected_diff_counts(base: pd.DataFrame, target: pd.DataFrame) -> dict[str, int]:
    """``diff_decisions`` status counts computed with pandas."""
    m = base.merge(target, on=["conv_id", "turn_idx"], how="outer",
                   suffixes=("_b", "_t"), indicator=True)
    bk, tk = m["keep_b"], m["keep_t"]
    same_text = (m["text_scrubbed_b"] == m["text_scrubbed_t"]) | (
        m["text_scrubbed_b"].isna() & m["text_scrubbed_t"].isna()
    )
    status = pd.Series("unchanged", index=m.index)
    status[~same_text] = "text_changed"
    status[(bk == False) & (tk == True)] = "now_kept"  # noqa: E712 (nullable)
    status[(bk == True) & (tk == False)] = "now_dropped"  # noqa: E712
    status[m["_merge"] == "left_only"] = "removed"
    status[m["_merge"] == "right_only"] = "added"
    return {k: int(v) for k, v in status.value_counts().items()}


def oracle_decisions(pdf: pd.DataFrame, spec) -> pd.DataFrame:
    """A decisions table (the pipeline's layout, bucket-partitioned) made
    from the oracle's labels, which the pipeline's own output matches
    turn for turn: dropped turns carry no scrubbed text."""
    from piperider_spark.oracle import oracle_labels

    labels = oracle_labels(pdf, spec)
    src = pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)
    out = pd.DataFrame({
        "bucket": [zlib.crc32(c.encode()) % N_BUCKETS for c in labels["conv_id"]],
        "conv_id": labels["conv_id"],
        "turn_idx": labels["turn_idx"],
        "role": src["role"],
        "ts": src["ts"],
        "keep": labels["keep"],
        "reasons": labels["reasons"],
        "lang": labels["lang"],
        "ppl": labels["ppl"],
        "text_scrubbed": labels["text_scrubbed"].where(labels["keep"], None),
    })
    return out


def write_decisions(decisions: pd.DataFrame, path: Path) -> None:
    import pyarrow as pa

    shutil.rmtree(path, ignore_errors=True)
    pq.write_to_dataset(pa.Table.from_pandas(decisions, preserve_index=False), str(path),
                        partition_cols=["bucket"], basename_template="part-{i}.parquet")


def read_decisions(decisions: Path) -> pd.DataFrame:
    cols = ["conv_id", "turn_idx", "keep", "reasons", "text_scrubbed"]
    return pq.read_table(decisions, columns=cols).to_pandas()


@dataclass
class Outcome:
    """What a workload's measured phase reports."""

    walls: list[float] = field(default_factory=list)
    cpus: list[float] = field(default_factory=list)  # process-tree CPU seconds per op
    resume_walls: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    rows_per_op: int = 0
    out_bytes_per_in_byte: float = 0.0
    peak_rss_mb: float = 0.0
    layers: dict[str, float] = field(default_factory=dict)
    spans: list[dict] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


class Workload:
    """Shared closed-loop driver; subclasses supply setup, op, resume,
    checks and their layer metrics. ``op`` and ``resume`` take a tracer,
    which is disabled on the untraced runs."""

    resume_calls = 0  # resume no-ops per run, half before the ops, half after

    def __init__(self, spark, work: Path, seed: int, n_turns: int):
        self.spark = spark
        self.store = StatusStore(spark)
        self.work = work
        self.seed = seed
        self.n_turns = n_turns
        self.setup_layers: dict[str, float] = {}
        self._groups = 0

    def group(self, tag: str) -> str:
        """Start a new Spark job group for the next call and return its id."""
        self._groups += 1
        name = f"{type(self).__name__}:{self.seed}:{tag}:{self._groups}"
        self.spark.sparkContext.setJobGroup(name, name)
        return name

    def attempt(self, out: Outcome, fn, tracer: Tracer) -> tuple[float | None, object]:
        """Run one timed call and check its outputs. Returns the call's wall
        time, or None when it raised. A raise, a raising check or a failed
        check counts as failed."""
        out.attempted += 1
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with tracer.span(fn.__name__):
                result = fn(tracer)
        except Exception:  # the loop keeps running; the failure is counted
            traceback.print_exc()
            out.failed += 1
            out.problems.append(f"{fn.__name__} raised")
            return None, None
        wall = time.perf_counter() - t0
        if fn == self.op:
            out.cpus.append(tree_cpu_s() - cpu0)
        try:
            problems = self.check(fn, result)
        except Exception:
            traceback.print_exc()
            problems = [f"checking {fn.__name__} raised"]
        if problems:
            out.failed += 1
            out.problems.extend(problems)
        return wall, result

    def measure(self, seconds: float, trace: bool) -> Outcome:
        """Ops back to back until the next one would end past ``seconds``
        (at least one), with the resume no-ops around them; with ``trace``,
        one more op and resume with spans. Only calls that returned add a
        wall time; one that raised counts as failed and nothing else."""
        out = Outcome()
        off = Tracer("", enabled=False)

        def resumes(n: int) -> None:
            for _ in range(n):
                self.group("resume")
                wall, _ = self.attempt(out, self.resume, off)
                if wall is not None:
                    out.resume_walls.append(wall)

        resumes(self.resume_calls // 2)
        start = time.perf_counter()
        spent = []  # per attempt, checks included: predicts the next one
        while True:
            self.group("op")
            t0 = time.perf_counter()
            wall, _ = self.attempt(out, self.op, off)
            if wall is not None:
                out.walls.append(wall)
            spent.append(time.perf_counter() - t0)
            if time.perf_counter() - start + statistics.median(spent) > seconds:
                break
        resumes(self.resume_calls - self.resume_calls // 2)
        out.peak_rss_mb = tree_peak_rss_mb()
        if not out.walls:
            return out
        self.finish(out)
        if trace:
            self.traced(out)
        return out

    def traced_call(self, out: Outcome, fn, tag: str) -> tuple[Tracer, str, list[Execution], float]:
        tracer = Tracer(f"{type(self).__name__}:{self.seed}:{tag}")
        group = self.group(tag)
        mark = self.store.mark()
        self.attempt(out, fn, tracer)
        root = tracer.spans[0]
        wall = root.end - root.start
        executions = self.store.executions(mark, root.end)
        run = [s for s in tracer.spans if s.name == "pipeline.run_pipeline"]
        for e in executions:  # SQL executions inside run_pipeline, as child spans
            if run and run[0].start <= e.start <= run[0].end:
                tracer.add(classify(e.plan), e.start, e.end, run[0].id)
        return tracer, group, executions, wall

    def traced(self, out: Outcome) -> None:
        """The layer split of one op (and one resume), with spans."""
        tracer, group, executions, wall = self.traced_call(out, self.op, "traced_op")
        layers = {name: 0.0 for name, _, _ in PER_LAYER}
        layers.update(self.setup_layers)
        untraced = statistics.median(out.walls)
        selfs = self_times(tracer.spans)
        layers["op.cpu_s"] = statistics.median(out.cpus)
        layers["trace.wall_s"] = wall
        layers["trace.overhead_s"] = wall - untraced
        # every span's self time except the root's: what the layers explain
        layers["trace.accounted_frac"] = sum(t for sid, t in selfs.items() if sid != 0) / untraced
        self.layer_metrics(layers, tracer, group, executions)
        out.spans = tracer.records()
        if self.resume_calls and out.resume_walls:
            layers["pipeline.resume_noop_s"] = statistics.median(out.resume_walls)
            resume_tracer, _, _, _ = self.traced_call(out, self.resume, "traced_resume")
            layers["pipeline.resume_check_s"] = layer_self_times(resume_tracer.spans).get(
                "pipeline.resume_check", 0.0
            )
            out.spans += resume_tracer.records()
        out.layers = layers

    def group_stages(self, group: str) -> tuple[dict[int, set[int]], list[dict]]:
        jobs = self.store.group_jobs(group)
        return jobs, self.store.stages(set().union(*jobs.values()) if jobs else set())

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, tracer: Tracer):
        raise NotImplementedError

    def resume(self, tracer: Tracer):
        raise NotImplementedError

    def check(self, fn, result) -> list[str]:
        raise NotImplementedError

    def finish(self, out: Outcome) -> None:
        raise NotImplementedError

    def layer_metrics(self, layers: dict, tracer: Tracer, group: str, executions: list[Execution]) -> None:
        raise NotImplementedError


class FilterWorkload(Workload):
    """``run_pipeline`` cold over seeded transcripts, and resume no-ops."""

    dedup = False
    resume_calls = 2

    def options(self) -> dict:
        opts = {"n_buckets": N_BUCKETS, "wave_buckets": WAVE_BUCKETS}
        if self.dedup:
            opts.update(conv_dedup=True, conv_rollup=True)
        return opts

    def setup(self) -> None:
        from piperider_spark.oracle import oracle_labels
        from piperider_spark.pipeline import run_pipeline

        kind = "clones" if self.dedup else "plain"
        frac = CLONE_FRAC if self.dedup else 0.0
        inputs = self.work / "inputs"
        inputs.mkdir(parents=True, exist_ok=True)
        t0 = time.perf_counter()
        self.pdf, self.clones = gen.transcripts(self.n_turns, self.seed, frac)
        self.input = inputs / f"transcripts-{kind}-{self.seed}-{self.n_turns}.parquet"
        self.input_bytes = gen.write_parquet(self.pdf, str(self.input), gen.TRANSCRIPT_SCHEMA)
        warm, _ = gen.transcripts(WARM_TURNS, self.seed + 1_000_003, frac)
        warm_path = inputs / f"warm-{kind}.parquet"
        gen.write_parquet(warm, str(warm_path), gen.TRANSCRIPT_SCHEMA)
        self.setup_layers["datagen.write_s"] = time.perf_counter() - t0
        self.out = self.work / "out"
        # warm-up pass: JVM code paths and Python workers, as a user's
        # long-lived session would have them. Its finished output serves
        # the resume no-ops that run before the first timed op.
        self.group("warmup")
        t0 = time.perf_counter()
        run_pipeline(self.spark, str(warm_path), str(self.out), resume=False, **self.options())
        run_pipeline(self.spark, str(warm_path), str(self.out), resume=True, **self.options())
        self.setup_layers["warmup_s"] = time.perf_counter() - t0
        self.out_input = warm_path
        # what every op's output is checked against: the oracle's labels of
        # the turns decisions/ must hold, and the duplicates it must drop
        t0 = time.perf_counter()
        self.dups = expected_duplicates(self.pdf) if self.dedup else set()
        labels = oracle_labels(self.pdf)[["conv_id", "turn_idx", "keep", "reasons", "text_scrubbed"]]
        self.oracle = labels[~labels["conv_id"].isin(self.dups)].reset_index(drop=True)
        self.setup_layers["oracle_s"] = time.perf_counter() - t0

    def _run(self, tracer: Tracer, input_path: Path, resume: bool):
        from piperider_spark.pipeline import run_pipeline

        with tracer.span("pipeline.run_pipeline"):
            return run_pipeline(self.spark, str(input_path), str(self.out), resume=resume, **self.options())

    def op(self, tracer: Tracer):
        self.out_input = self.input
        return self._run(tracer, self.input, resume=False)

    def resume(self, tracer: Tracer):
        """A no-op call on the finished output (of the warm-up before the
        first op, of the last op after it)."""
        return self._run(tracer, self.out_input, resume=True)

    def check(self, fn, result) -> list[str]:
        if fn == self.resume:
            n = result.buckets_processed
            return [] if n == 0 else [f"resume processed {n} buckets, expected 0"]
        oracle, dups = self.oracle, self.dups
        self.quality, problems = compare_to_oracle(read_decisions(self.out / "decisions"), oracle)
        n_turns = int(pq.read_table(self.out / "metrics", columns=["n_turns"])["n_turns"].to_numpy().sum())
        if n_turns != len(oracle):
            problems.append(f"metrics n_turns sum {n_turns} != {len(oracle)} expected turns")
        lineage = pq.read_table(self.out / "lineage", columns=["run_id", "bucket"]).to_pandas()
        buckets = sorted(lineage.loc[lineage["run_id"] == result.run_id, "bucket"].tolist())
        if buckets != list(range(N_BUCKETS)):
            problems.append(f"lineage holds buckets {buckets}, expected one row per bucket")
        if self.dedup:
            found = set(pq.read_table(self.out / "dup_convs", columns=["conv_id"])["conv_id"].to_pylist())
            if found != dups:
                problems.append(f"dup_convs/ has {len(found)} conversations, expected {len(dups)}")
            self.quality["dup_found_frac"] = len(found & set(self.clones)) / len(self.clones)
            n_convs = pq.read_table(self.out / "conversations", columns=["conv_id"]).num_rows
            if n_convs != oracle["conv_id"].nunique():
                problems.append(f"conversations/ has {n_convs} rows, expected {oracle['conv_id'].nunique()}")
        return problems

    def finish(self, out: Outcome) -> None:
        out.rows_per_op = len(self.pdf)
        out.out_bytes_per_in_byte = dir_bytes(self.out) / self.input_bytes
        out.extra["quality"] = getattr(self, "quality", {})
        out.extra["clones"] = len(self.clones)

    def layer_metrics(self, layers: dict, tracer: Tracer, group: str, executions: list[Execution]) -> None:
        selfs = layer_self_times(tracer.spans)
        for name in ("staging", "decisions_write", "metrics_write", "lineage_write",
                     "conversations_write", "other_sql"):
            layers[f"pipeline.{name}_s"] = selfs.get(f"pipeline.{name}", 0.0)
        layers["pipeline.driver_s"] = selfs.get("pipeline.run_pipeline", 0.0)
        layers["operators.dedup_sidecar_s"] = selfs.get("operators.dedup_sidecar", 0.0)
        layers["pipeline.sql_executions"] = len(executions)
        # the only Python crossing inside run_pipeline is the fused
        # signals/scrub Arrow UDF
        py = self.store.sql_metrics([e.id for e in executions], (PY_RUN, PY_INIT, PY_SENT, PY_RETURNED))
        layers["signals.python_run_s"] = py.get(PY_RUN, 0.0)
        layers["signals.python_init_s"] = py.get(PY_INIT, 0.0)
        layers["signals.arrow_sent_bytes"] = py.get(PY_SENT, 0.0)
        layers["signals.arrow_returned_bytes"] = py.get(PY_RETURNED, 0.0)
        jobs, stages = self.group_stages(group)
        layers["pipeline.jobs"] = len(jobs)
        layers["pipeline.tasks"] = sum(s["tasks"] for s in stages)
        layers["pipeline.shuffle_write_bytes"] = sum(s["shuffle_write_bytes"] for s in stages)
        layers["pipeline.spill_bytes"] = sum(s["spill_bytes"] for s in stages)
        layers["pipeline.peak_exec_mem_bytes"] = max((s["peak_exec_mem_bytes"] for s in stages), default=0)
        # skew of the heaviest stage of the decisions writes (the UDF stage)
        decision_stages = {
            st for e in executions if classify(e.plan) == "pipeline.decisions_write"
            for j in e.job_ids for st in jobs.get(j, ())
        }
        heavy = max((s for s in stages if s["stage"] in decision_stages),
                    key=lambda s: s["run_ms"], default=None)
        if heavy is not None:
            layers["pipeline.task_skew"] = skew(self.store.task_run_ms(heavy["stage"], heavy["attempt"]))
        layers["pipeline.keep_frac"] = self.quality["keep_frac"]
        if self.dedup:
            layers["operators.dup_found_frac"] = self.quality["dup_found_frac"]
        for col, nbytes in decisions_column_bytes(self.out / "decisions").items():
            layers[f"pipeline.decisions_col_bytes.{col}"] = nbytes
        layers["pipeline.build_decisions_s"] = self.build_decisions_noop()
        sig, scrub = kernel_rows_per_s(self.pdf["text"])
        layers["signals.kernel_rows_per_s"] = sig
        layers["scrub.kernel_rows_per_s"] = scrub

    def build_decisions_noop(self) -> float:
        """The core plan (rules + fused UDF) over the staged input into a
        noop sink: how much of the decisions write is persist and write."""
        from piperider_spark.pipeline import build_decisions

        self.group("build_decisions")
        src = self.spark.read.parquet(str(self.out / "staged"))
        t0 = time.perf_counter()
        build_decisions(src).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0


class DedupRollupWorkload(FilterWorkload):
    dedup = True


def kernel_rows_per_s(texts: pd.Series, batch: int = 5000) -> tuple[float, float]:
    """The fused signals kernel and the scrub kernel outside Spark, in the
    pipeline's Arrow batch size."""
    from piperider_spark.scrub.rules import scrub_series
    from piperider_spark.signals.core import text_signals_and_ppl_batch

    batches = [texts.iloc[i : i + batch].reset_index(drop=True) for i in range(0, len(texts), batch)]
    t0 = time.perf_counter()
    for b in batches:
        text_signals_and_ppl_batch(b)
    t1 = time.perf_counter()
    for b in batches:
        scrub_series(b)
    t2 = time.perf_counter()
    return len(texts) / (t1 - t0), len(texts) / (t2 - t1)


class ReviewWorkload(Workload):
    """PipeRider's review loop over two decisions outputs and a lineitem
    table: profile, compare, and the turn-level decisions diff."""

    def setup(self) -> None:
        from piperider_spark.rules.spec import DEFAULT_SPEC

        inputs = self.work / "inputs"
        inputs.mkdir(parents=True, exist_ok=True)
        t0 = time.perf_counter()
        self.lineitem = inputs / f"lineitem-{self.seed}.parquet"
        gen.write_parquet(gen.lineitem(LINEITEM_ROWS, self.seed), str(self.lineitem))
        pdf, _ = gen.transcripts(self.n_turns, self.seed)
        self.base, self.target = self.work / "base", self.work / "target"
        target_spec = dataclasses.replace(DEFAULT_SPEC, ppl_max=REVIEW_TARGET_PPL_MAX)
        frames = {}
        for path, spec in ((self.base, DEFAULT_SPEC), (self.target, target_spec)):
            frames[path] = oracle_decisions(pdf, spec)
            write_decisions(frames[path], path / "decisions")
        self.setup_layers["datagen.write_s"] = time.perf_counter() - t0
        cols = ["conv_id", "turn_idx", "keep", "reasons", "text_scrubbed"]
        base_df, target_df = frames[self.base][cols], frames[self.target][cols]
        self.counts = {"lineitem": LINEITEM_ROWS, "base": len(base_df), "target": len(target_df)}
        self.diff_expected = expected_diff_counts(base_df, target_df)
        self.tables = {"lineitem": self.lineitem, "base": self.base / "decisions",
                       "target": self.target / "decisions"}
        self.in_bytes = sum(dir_bytes(p) if p.is_dir() else p.stat().st_size for p in self.tables.values())
        self.out = self.work / "review"
        t0 = time.perf_counter()
        self.op(Tracer("", enabled=False))  # warm-up pass
        self.setup_layers["warmup_s"] = time.perf_counter() - t0

    def op(self, tracer: Tracer):
        return self.review(tracer, self.tables)

    def review(self, tracer: Tracer, tables: dict[str, Path]):
        import json

        from piperider_spark.profiler.compare import compare_reports, diff_decisions
        from piperider_spark.profiler.core import profile_table

        reports = {}
        for name, path in tables.items():
            table = "lineitem" if name == "lineitem" else "decisions"
            with tracer.span(f"profiler.profile_table.{table}"):
                reports[name] = profile_table(self.spark.read.parquet(str(path)), table)
        with tracer.span("profiler.compare_reports"):
            changeset = compare_reports({"tables": {"decisions": reports["base"]}},
                                        {"tables": {"decisions": reports["target"]}})
        with tracer.span("profiler.diff_decisions"):
            diff = diff_decisions(str(tables["base"]), str(tables["target"]))
            counts = {r["status"]: int(r["count"]) for r in diff.groupBy("status").count().collect()}
        shutil.rmtree(self.out, ignore_errors=True)
        self.out.mkdir(parents=True)
        for name, doc in (*reports.items(), ("changeset", changeset), ("diff_counts", counts)):
            (self.out / f"{name}.json").write_text(json.dumps(doc, default=str))
        return reports, changeset, counts

    def check(self, fn, result) -> list[str]:
        reports, changeset, counts = result
        problems = []
        for name, report in reports.items():
            if report.get("row_count") != self.counts[name]:
                problems.append(f"{name} profile row_count {report.get('row_count')} != {self.counts[name]}")
        if counts != self.diff_expected:
            problems.append(f"diff_decisions counts {counts} != pandas diff {self.diff_expected}")
        if not changeset["tables"]["decisions"]["table_changed"]:
            problems.append("compare_reports saw no change between base and target")
        return problems

    def finish(self, out: Outcome) -> None:
        c = self.counts
        out.rows_per_op = c["lineitem"] + 2 * (c["base"] + c["target"])  # profiled + diffed
        out.out_bytes_per_in_byte = dir_bytes(self.out) / self.in_bytes
        out.extra["diff_counts"] = self.diff_expected

    def layer_metrics(self, layers: dict, tracer: Tracer, group: str, executions: list[Execution]) -> None:
        selfs = layer_self_times(tracer.spans)
        layers["profiler.profile_table_s.lineitem"] = selfs.get("profiler.profile_table.lineitem", 0.0)
        layers["profiler.profile_table_s.decisions"] = selfs.get("profiler.profile_table.decisions", 0.0)
        layers["profiler.compare_reports_s"] = selfs.get("profiler.compare_reports", 0.0)
        layers["profiler.diff_decisions_s"] = selfs.get("profiler.diff_decisions", 0.0)
        jobs, stages = self.group_stages(group)
        layers["profiler.shuffle_write_bytes"] = sum(s["shuffle_write_bytes"] for s in stages)
        profiles = [s for s in tracer.spans if s.name.startswith("profiler.profile_table.")]
        profile_jobs = sum(len(e.job_ids) for e in executions
                           if any(p.start <= e.start <= p.end for p in profiles))
        layers["profiler.jobs_per_table"] = profile_jobs / len(profiles)
        # the profiler's distribution pass is a mapInPandas: Python workers
        # run here too, though the signals UDF does not
        py = self.store.sql_metrics([e.id for e in executions], (PY_RUN,))
        layers["profiler.python_run_s"] = py.get(PY_RUN, 0.0)


WORKLOADS = {
    "filter_cold": FilterWorkload,
    "filter_dedup_rollup": DedupRollupWorkload,
    "review_decisions": ReviewWorkload,
}
