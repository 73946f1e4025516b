"""End-to-end transcript quality-filter pipeline.

spark-submit entry (north rule): read transcripts → signals (pandas UDFs) →
heuristic rules (native exprs + one lag window) → keep/drop + reasons →
scrub → write decisions / scrubbed text / per-bucket metrics + lineage rows,
resumable from the lineage table.

Scale design (SURVEY.md §3.1 "Spark rebuild lifecycle"):
* One logical plan per bucket-wave; Catalyst fuses the signal UDF projection,
  rule expressions, and scrub into a minimal number of stages. The only wide
  exchange is the (conv_id, turn_idx) window shuffle for duplicate-turn.
* Skew: conversations are Zipf-skewed. Work is partitioned by
  ``bucket = pmod(xxhash64(conv_id), n_buckets)`` — a salted, uniform
  re-keying of conv space (all turns of a conv stay together, buckets are
  balanced in expectation) — plus AQE skew handling for the residual tail.
* One pass per wave: the fused plan runs once, uncached, into the
  decisions write; metrics/ and conversations/ are aggregated from a narrow
  parquet read of the bucket partitions the wave just wrote. Those two
  writes and the wave's lineage append run on a background writer while the
  main thread writes the next wave's decisions.
* Opt-in scorers (DSIR, archive substring overlap, BPE token counts, the
  distilled quality classifier, learned langid) share one contract: a
  zero-shuffle projection whose artifact is fitted once per staging into a
  sidecar (or loaded from a path), with its mode recorded in lineage. Each
  is one entry in ``run_pipeline``'s stage table; a new stage is one more
  entry there.
* Lineage/resume: each completed bucket writes one lineage row (run_id,
  bucket, modes, wave wall ms), one file per wave from a driver-side Arrow
  table (no Python worker). A restarted run anti-joins finished buckets and
  only processes the remainder — the Iceberg-snapshot checkpoint model of
  SURVEY.md §2.9 expressed over parquet in this sandbox.
* At 10^12 turns: n_buckets scales to ~10^4; each wave is an independent
  job over ~10^8 turns, bounded memory, restartable at bucket granularity.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import partial
from typing import Any, Callable

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from piperider_spark.rules.heuristics import apply_rules
from piperider_spark.rules.spec import DEFAULT_SPEC, RuleSpec

TRANSCRIPT_COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")

LINEAGE_SCHEMA = (
    "run_id string, bucket int, elapsed_ms long, conv_rollup boolean, "
    "dedup_mode string, dsir_mode string, substr_mode string, "
    "bpe_mode string, clf_mode string, langid_mode string, "
    "spec_sig string, rollup_frac double, ts double"
)


def build_decisions(df: DataFrame, spec: RuleSpec = DEFAULT_SPEC) -> DataFrame:
    """The core logical plan: JVM rules → one fused python stage (signals +
    conditional scrub) → reasons/keep.

    Plan shape (see PLANS.md / BASELINE.md scaling notes):
    * Window FIRST: the duplicate-turn lag is the plan's only wide exchange,
      and everything downstream then runs at shuffle-partition parallelism
      (2-3× cores, hash-balanced on conv_id) instead of input-split
      parallelism.
    * The five JVM-evaluable rules are computed as native expressions, and
      their disjunction rides INTO the fused python UDF so scrub is only
      applied to rows that will actually be kept (Spark would otherwise
      evaluate a CASE-guarded scrub UDF unconditionally — UDF extraction).
    * ONE Arrow crossing total: text + one boolean in; lang/ppl/token
      stats/scrubbed out.
    """
    from piperider_spark.rules.heuristics import duplicate_turn_col, rule_columns
    from piperider_spark.signals.udfs import make_process_udf

    cols = rule_columns(spec)
    jvm_rules = ("role_invalid", "text_empty", "too_long", "tool_json_invalid")
    flagged = df.withColumns(
        {f"r_{name}": F.coalesce(cols[name], F.lit(False)) for name in jvm_rules}
    )
    if "r_duplicate_turn" not in flagged.columns:
        flagged = flagged.withColumn(
            "r_duplicate_turn", F.coalesce(duplicate_turn_col(spec), F.lit(False))
        )
    jvm_drop = (
        F.col("r_role_invalid")
        | F.col("r_text_empty")
        | F.col("r_too_long")
        | F.col("r_tool_json_invalid")
        | F.col("r_duplicate_turn")
    )

    process = make_process_udf(spec)
    sig = (
        flagged.withColumn("_sig", process(F.col("text"), jvm_drop))
        .withColumns(
            {
                "lang": F.col("_sig.lang"),
                "ppl": F.col("_sig.ppl"),
                "n_tok": F.col("_sig.n_tok"),
                "rep_ratio": F.col("_sig.rep_ratio"),
                "text_scrubbed": F.col("_sig.text_scrubbed"),
            }
        )
        .drop("_sig")
    )
    decided = apply_rules(sig, spec)
    # The UDF delta-encodes its scrub output (NULL = byte-identical to the
    # input, the common case) to shrink the Arrow return payload; restore
    # the full contract here: kept rows always carry their (possibly
    # unchanged) scrubbed text, dropped rows NULL. keep ⇒ text IS NOT NULL
    # (the text_empty rule drops null/blank text), so the coalesce is total.
    return decided.withColumn(
        "text_scrubbed",
        F.when(F.col("keep"), F.coalesce(F.col("text_scrubbed"), F.col("text"))),
    )


def conversation_rollup(
    decided: DataFrame, min_keep_frac: float = 0.5
) -> DataFrame:
    """Conversation-grain decisions over per-turn ones: keep a conversation
    iff its kept-turn fraction reaches ``min_keep_frac`` — the curation
    policy for corpora where a mostly-bad conversation poisons the rest
    of its turns.

    Scale shape: every aggregate here is partial/map-side combinable
    (including n_roles — collect_set over a bounded enum, NOT a distinct
    aggregate), so the turn-grain rows are collapsed to conversation-grain
    partial rows BEFORE the aggregate's exchange; the only data this
    groupBy shuffles is ~one row per conversation per task. run_pipeline
    feeds it a read-back of the written decisions, so there is no upstream
    exchange to reuse; over ``build_decisions`` directly, AQE's post-window
    coalescing makes Spark plan its own (narrow) exchange as well.
    Plan-asserted in test_pipeline: exchanges on conv_id only, never on
    (conv_id, role)."""
    agg = decided.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        # NOT count_distinct: a distinct aggregate re-exchanges on
        # (conv_id, role). collect_set partial-aggregates map-side and
        # roles are a bounded enum.
        F.size(F.collect_set("role")).alias("n_roles"),
        F.min("ts").alias("ts_min"),
        F.max("ts").alias("ts_max"),
    )
    frac = F.col("n_kept") / F.col("n_turns").cast("double")
    return agg.withColumns(
        {
            "keep_frac": F.round(frac, 6),
            "conv_keep": frac >= F.lit(min_keep_frac),
        }
    )


@dataclass
class PipelineResult:
    run_id: str
    n_buckets: int
    buckets_processed: int
    buckets_skipped: int
    decisions_path: str
    metrics_path: str
    lineage_path: str


@dataclass
class _Stage:
    """One opt-in scorer of ``run_pipeline``: an entry of its stage table.

    Lineage records ``mode`` ("none" when off) as ``<key>_mode``, so
    resuming under another mode reprocesses. ``load`` reads the stage's
    artifact once per run: from ``path`` when given (fitted elsewhere),
    else from ``sidecar``, the dir ``fit()`` writes the artifact table to
    (restaging purges it; None for a stage that only loads).
    ``project(df, artifact)`` adds ``columns`` to a wave with no exchange."""

    key: str
    mode: str
    columns: tuple[str, ...]
    project: Callable[[DataFrame, Any], DataFrame]
    path: str | None
    load: Callable[[str], Any]
    sidecar: str | None = None
    fit: Callable[[], DataFrame] | None = None


def _bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")


def read_input(spark: SparkSession, input_path: str) -> DataFrame:
    """Resolve the pipeline input: ``table:<identifier>`` reads a catalog
    table (``spark.read.table``) — with an Iceberg catalog configured this
    IS the north rule's Iceberg input, no code change; the staging write
    then snapshots the referenced table state for the run, so resume stays
    consistent even if the live table advances. Anything else is a parquet
    path/dir."""
    if input_path.startswith("table:"):
        return spark.read.table(input_path[len("table:"):])
    return spark.read.parquet(input_path)


def _input_key(input_path: str) -> str:
    """Stable identity for the staging manifest (table ids are not paths)."""
    if input_path.startswith("table:"):
        return input_path
    return os.path.abspath(input_path)


def _artifact_key(path: str) -> str:
    """CONTENT identity for a loaded artifact (bloom snapshot / dsir ratio
    / bpe merges / clf / langid model): abspath plus an md5 over the sorted
    (relpath, size, mtime_ns) listing. Mode strings carry this so an
    artifact updated IN PLACE at the same path invalidates resume and the
    dup_convs sidecar — the documented "resuming against a different
    snapshot reprocesses" contract, which bare path identity cannot keep
    (review finding: epoch workflows that overwrite latest.bloom reused
    stale sidecars). A missing path is a ValueError naming it."""
    import hashlib

    if not os.path.exists(path):
        raise ValueError(f"artifact path does not exist: {path!r}")
    h = hashlib.md5()
    if os.path.isdir(path):
        for root, dirs, files in sorted(os.walk(path)):
            dirs.sort()
            for f in sorted(files):
                fp = os.path.join(root, f)
                st = os.stat(fp)
                rel = os.path.relpath(fp, path)
                h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns}".encode())
    else:
        st = os.stat(path)
        h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    return f"{os.path.abspath(path)}@{h.hexdigest()[:12]}"


def _spec_sig(spec: RuleSpec) -> str:
    """Deterministic digest of the frozen rule thresholds — lineage rows
    carry it so resuming with a CHANGED RuleSpec reprocesses instead of
    serving decisions computed under the old policy (review finding: every
    other knob was tracked, the spec itself was not)."""
    import hashlib

    return hashlib.md5(repr(spec).encode()).hexdigest()[:12]


def _stage_mode(path: str | None, fit: str | None, suffix: str = "") -> str:
    """A stage's lineage mode: the loaded artifact's content identity, else
    its in-run fit, else "none"."""
    if path:
        return f"path:{_artifact_key(path)}{suffix}"
    return f"{fit}{suffix}" if fit else "none"


def _has_parquet(path: str) -> bool:
    """True iff a parquet data file (one Spark would read: not hidden, not
    `_`-prefixed) exists under ``path``."""
    return any(
        f.endswith(".parquet") and not f.startswith(("_", "."))
        for _, _, files in os.walk(path)
        for f in files
    )


def _fresh(path: str, meta_file: str, meta: dict) -> bool:
    """The reuse gate of every derived dir (staged/, dup_convs/, fitted
    sidecars): its write completed (``_SUCCESS``) and the JSON manifest
    beside it equals ``meta``. The manifest is written after the data, so a
    crash between the two writes redoes the write."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        return False
    try:
        with open(os.path.join(path, meta_file)) as fh:
            return json.load(fh) == meta
    except (OSError, ValueError):
        return False


def _fit_or_load(st: _Stage) -> Any:
    """A stage's artifact, loaded: from its ``path`` when given, else from
    its sidecar, which ``fit()`` rewrites unless it already holds this
    mode's fit. Fitted tables are small (at most a few thousand rows), so
    each is one file."""
    path = st.path
    if not path:
        path = st.sidecar
        meta_file = f"_{st.key}_meta.json"
        if not _fresh(path, meta_file, {"mode": st.mode}):
            st.fit().coalesce(1).write.mode("overwrite").parquet(path)
            with open(os.path.join(path, meta_file), "w") as fh:
                json.dump({"mode": st.mode}, fh)
    return st.load(path)


def _lineage_col(lin: DataFrame, name: str, default: Any) -> Column:
    """Lineage column ``name``, reading ``default`` where it is null or, in
    lineage written before the column existed, absent: old rows resume as
    what they were produced under."""
    if name in lin.columns:
        return F.coalesce(F.col(name), F.lit(default))
    return F.lit(default)


def _save_epoch_bloom(
    out: str, hist: dict | None, expected: int | None, build: Callable[..., dict]
) -> None:
    """Write the next epoch's Bloom snapshot to ``out``: ``hist`` ∪ this
    corpus, where ``build(expected=, fpp=, layout=)`` builds the corpus
    filter in the history's bitset layout. With no history (epoch 1)
    ``expected`` sizes the layout every later epoch inherits, so size it for
    the archive's growth horizon: a filter sized for epoch 1 alone
    saturates (fpp → 1) as insertions accumulate. Derived from staged/ and
    the history only, so a resumed or no-op run rewrites the same content
    (save_bloom renames atomically)."""
    from piperider_spark.operators.dedup import bloom_or, save_bloom

    if hist is None:
        save_bloom(build(expected=expected, fpp=0.01, layout=None), out)
    else:
        cur = build(expected=None, fpp=hist["fpp"], layout=(hist["m_bits"], hist["k"]))
        save_bloom(bloom_or(hist, cur), out)


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    spec: RuleSpec = DEFAULT_SPEC,
    n_buckets: int = 16,
    run_id: str | None = None,
    resume: bool = True,
    wave_buckets: int = 8,
    conv_rollup: bool = False,
    conv_min_keep_frac: float = 0.5,
    conv_dedup: bool = False,
    conv_near_dedup: bool = False,
    conv_near_threshold: float = 0.85,
    bloom_history: str | None = None,
    bloom_out: str | None = None,
    bloom_expected: int | None = None,
    dsir_fit: str | None = None,
    dsir_ratio_path: str | None = None,
    dsir_buckets: int = 4096,
    substr_bloom_history: str | None = None,
    substr_bloom_out: str | None = None,
    substr_bloom_expected: int | None = None,
    substr_bloom_k: int = 8,
    bpe_merges_path: str | None = None,
    bpe_train: int | None = None,
    clf_model_path: str | None = None,
    clf_train: int | None = None,
    langid_model_path: str | None = None,
    langid_train: int | None = None,
) -> PipelineResult:
    """Execute (or resume) the filter job over a transcripts parquet/dir.

    Buckets are processed in waves of ``wave_buckets``. Each wave's
    metrics/ and conversations/ writes and its lineage commit run in the
    background while the next wave's decisions are written, so a crash can
    lose up to two waves: one wave's decisions write plus the previous
    wave's pending aggregates. Neither is in lineage, so a resume redoes
    both. An error in the background writer is raised from here once the
    wave in flight on the calling thread has been written. A lineage/ that
    holds parquet files but cannot be read raises a RuntimeError naming it
    (``resume=False``, the CLI's ``--no-resume``, reprocesses every bucket
    without reading it); one with no parquet file counts as nothing done.

    Outputs under ``output_dir``:
      decisions/      conv_id, turn_idx, role, ts, keep, reasons, lang, ppl,
                      text_scrubbed, then each enabled stage's columns —
                      partitioned by bucket
      metrics/        per-bucket PipeRider-style profile rows
      lineage/        one row per completed (run, bucket)
      conversations/  (when ``conv_rollup``) conversation-grain stats +
                      conversation-level keep — partitioned by bucket, same
                      idempotent dynamic-overwrite contract as metrics
      dup_convs/      (when dedup is on) the dropped duplicate conversations
                      (conv_id, canonical_conv_id, fp, group_size, method)
                      — the audit record of what dedup removed

    ``conv_dedup`` drops exactly-duplicated conversations (stable-turn-order
    transcript fingerprint, \\x1e-joined so turn boundaries stay in the key)
    before the keep/drop rules run; ``conv_near_dedup`` additionally drops
    NEAR-duplicate conversations — MinHash-LSH pairs over the whole
    transcript at ``conv_near_threshold`` Jaccard, clustered with
    label-propagation connected components, keeping each cluster's
    lexically-first conv_id (the same canonical policy as the exact stage).
    Only canonical conversations flow into decisions/.

    The duplicate list is computed ONCE per staging+mode (the sidecar
    carries a mode manifest and is rebuilt when the dedup mode changes),
    written partitioned by bucket, and each wave anti-joins only its own
    buckets' slice — the join stays pruned and AQE broadcasts it when
    small, so dedup adds no per-wave full-corpus work. Lineage rows record
    the dedup MODE: resuming with a different mode reprocesses buckets
    rather than mixing differently-deduped decisions in one output.

    ``bloom_history`` extends dedup ACROSS runs: a Bloom snapshot of
    previous epochs' conversation fingerprints (operators/dedup.save_bloom
    artifact) gates this corpus map-side — conversations whose stable-order
    transcript fingerprint probes seen are dropped like exact duplicates
    (method ``bloom_history`` in dup_convs/, canonical_conv_id NULL: the
    canonical was emitted by an earlier epoch). Zero shuffle against
    history — the 10^12-turn archive never re-keys; ~fpp of genuinely-new
    conversations are falsely dropped (the artifact records its fpp).
    ``bloom_out`` writes the next epoch's snapshot (history ∪ this corpus,
    same bitset layout) after the waves complete; on the FIRST epoch (no
    history) pass ``bloom_expected`` sized for the archive's growth horizon
    — every later epoch inherits that layout. The history artifact's
    identity joins the lineage dedup mode, so resuming against a different
    snapshot reprocesses buckets.

    The opt-in scorers — DSIR importance (``dsir_*``), archive substring
    overlap (``substr_bloom_*``), BPE token counts (``bpe_*``), the
    distilled quality classifier (``clf_*``) and learned langid
    (``langid_*``) — are the entries of the stage table in this function,
    each documented at its entry. Every stage has the same shape: fit once
    per staging into a sidecar under ``output_dir`` (or load an externally
    fitted artifact from a path, the production shape), record its mode in
    lineage so that swapping or dropping it reprocesses rather than mixing
    outputs, and add its columns to every wave as a zero-shuffle
    projection. A new stage is one more entry in that table (``_Stage``:
    its mode, columns, projection, artifact loader and in-run fit), plus
    its lineage column in ``LINEAGE_SCHEMA``."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if wave_buckets < 1:
        raise ValueError(f"wave_buckets must be >= 1, got {wave_buckets}")
    run_id = run_id or uuid.uuid4().hex[:12]
    decisions_path = os.path.join(output_dir, "decisions")
    metrics_path = os.path.join(output_dir, "metrics")
    lineage_path = os.path.join(output_dir, "lineage")
    staged_path = os.path.join(output_dir, "staged")
    dup_convs_path = os.path.join(output_dir, "dup_convs")
    conversations_path = os.path.join(output_dir, "conversations")

    # The stage table, in decisions/ column order (lineage column order too).
    # A stage's fit runs after staging, so its lambda reads `src` then.
    from piperider_spark.operators import bpe as _bpe
    from piperider_spark.operators import classifier as _clf
    from piperider_spark.operators import dedup as _dedup
    from piperider_spark.operators import dsir as _dsir
    from piperider_spark.operators import langid_model as _lm

    labels: list[DataFrame] = []

    def distill(label: str) -> DataFrame:
        # the frozen spec's keep and lang labels for the clf and langid
        # fits: ONE build_decisions pass over staged/, persisted while the
        # fits read it (the langid fit alone reads its input twice)
        if not labels:
            labels.append(build_decisions(src, spec).select("text", "keep", "lang").persist())
        return labels[0].select("text", label)

    stages = [
        # DSIR importance: ``dsir_fit`` (a SQL predicate over the input
        # columns selecting the TARGET slice, e.g. "role = 'assistant'")
        # fits the log-ratio table (operators/dsir.py — two B-bounded aggs,
        # ≤ ``dsir_buckets`` rows, kept as an audit record); loaded, it is
        # one array literal riding the plan to score ``dsir_score``.
        _Stage(
            "dsir",
            _stage_mode(dsir_ratio_path, dsir_fit and f"fit:{dsir_fit}", f":{dsir_buckets}"),
            columns=("dsir_score",),
            project=lambda df, arr: df.withColumn("dsir_score", _dsir.dsir_score_col("text", arr)),
            path=dsir_ratio_path,
            load=lambda p: _dsir.log_ratio_array(spark.read.parquet(p), n_buckets=dsir_buckets),
            sidecar=os.path.join(output_dir, "dsir_ratio"),
            fit=lambda: _dsir.fit_bucket_log_ratio(
                src, src.where(F.expr(dsir_fit)), text_col="text", n_buckets=dsir_buckets
            ),
        ),
        # Substring overlap with the archive: a WINDOW-grain Bloom snapshot
        # (operators/dedup.build_window_bloom — history's k-token-window
        # hashes) scores ``substr_seen_frac``, the fraction of each turn's
        # tokens covered by substrings already in the archive (merged
        # k-token windows, case-insensitive). Row-local JVM window hashes +
        # one broadcast-bitset Arrow probe, never a join against history.
        # Score, not drop: overlap (boilerplate, quoted context, templated
        # turns) is a quality signal and the cut belongs downstream.
        # ``substr_bloom_out`` writes the next epoch's window snapshot
        # (epoch 1 sizes it via ``substr_bloom_expected``/``substr_bloom_k``).
        _Stage(
            "substr",
            f"bloom:{_artifact_key(substr_bloom_history)}" if substr_bloom_history else "none",
            columns=("substr_seen_frac",),
            project=lambda df, bits: (
                _dedup.window_seen_stats(
                    df, substr_bloom, k_tokens=int(substr_bloom["k_tokens"]), bits_bc=bits
                )
                .withColumnRenamed("seen_frac", "substr_seen_frac")
                .drop("n_tokens", "seen_windows", "seen_token_cov")
            ),
            path=substr_bloom_history,
            # ONE broadcast of the (potentially GB-scale) bitset for the
            # whole run; window_seen_stats would otherwise broadcast per wave
            load=lambda p: spark.sparkContext.broadcast(substr_bloom["bits"]),
        ),
        # BPE: ``bpe_train`` learns that many merges (operators/bpe.py — ONE
        # word-count shuffle, then the driver merge loop over the Heaps'-
        # bounded frequency table; bpe_merges/ is the shippable tokenizer);
        # ``n_bpe_subwords`` is each turn's model-token count under it, the
        # number token-budget packing and cost accounting run on (JVM
        # pre-tokenization + one Arrow crossing returning just the count).
        _Stage(
            "bpe",
            _stage_mode(bpe_merges_path, bpe_train and f"train:{int(bpe_train)}"),
            columns=("n_bpe_subwords",),
            project=lambda df, merges: df.withColumn(
                "n_bpe_subwords", _bpe.bpe_subword_count_col(merges, "text")
            ),
            path=bpe_merges_path,
            load=lambda p: _bpe.load_merges(spark, p),
            sidecar=os.path.join(output_dir, "bpe_merges"),
            fit=lambda: _bpe.merges_to_df(
                spark,
                _bpe.train_bpe(
                    _bpe.bpe_word_counts(src, "text", min_count=2, top_words=50_000),
                    n_merges=int(bpe_train),
                ),
            ),
        ),
        # Quality classifier: ``clf_train`` distills the rule layer — the
        # frozen spec's keep labels train a hashed-n-gram logistic
        # regression for that many epochs (operators/classifier.py — one
        # B-bounded shuffle per epoch, exact decimal gradients); ``clf_score``
        # is the keep-probability under it, a sigmoid over a weight literal.
        _Stage(
            "clf",
            _stage_mode(clf_model_path, clf_train and f"train:{int(clf_train)}"),
            columns=("clf_score",),
            project=lambda df, m: df.withColumn("clf_score", _clf.classifier_score_col("text", m)),
            path=clf_model_path,
            load=lambda p: _clf.model_from_df(spark.read.parquet(p)),
            sidecar=os.path.join(output_dir, "clf_model"),
            fit=lambda: _clf.model_to_df(
                spark, _clf.fit_quality_classifier(distill("keep"), epochs=int(clf_train))
            ),
        ),
        # Learned langid: ``langid_train`` distills the frozen heuristic's
        # ``lang`` labels into the fastText-style hashed char+word n-gram
        # softmax (operators/langid_model.py — one bounded shuffle per
        # epoch, exact decimal gradients). ``ft_lang``/``ft_lang_prob`` ride
        # NEXT to the frozen ``lang``, which stays byte-identical: the
        # learned model occupies the swap seam without touching keep/drop.
        # The synthetic teacher labels here exercise the plumbing; a model
        # fitted on a genuinely multilingual corpus loads via the path.
        _Stage(
            "langid",
            _stage_mode(langid_model_path, langid_train and f"train:{int(langid_train)}"),
            columns=("ft_lang", "ft_lang_prob"),
            project=lambda df, m: _lm.langid_scored(df, m, "text"),
            path=langid_model_path,
            load=lambda p: _lm.langid_model_from_df(spark.read.parquet(p)),
            sidecar=os.path.join(output_dir, "langid_model"),
            fit=lambda: _lm.langid_model_to_df(
                spark,
                _lm.fit_langid_model(distill("lang"), label_col="lang", epochs=int(langid_train)),
            ),
        ),
    ]
    on = [st for st in stages if st.mode != "none"]
    substr_bloom: dict | None = None
    if substr_bloom_history:
        substr_bloom = _dedup.load_bloom(substr_bloom_history)
        if substr_bloom.get("grain") != "window":
            raise ValueError(
                f"--substr-bloom-history needs a window-grain artifact "
                f"(build_window_bloom), got grain="
                f"{substr_bloom.get('grain', 'fingerprint')!r} from "
                f"{substr_bloom_history}"
            )

    # Stage the input ONCE, partitioned by bucket, so every wave (and every
    # resume) prunes to its bucket directories at the scan. The previous
    # design filtered on a derived bucket column, which cannot prune files —
    # each wave re-scanned the full input (O(waves) scans; at the documented
    # 10^4-bucket scale that is the pipeline's dominant cost). One extra
    # full write buys O(1) scans of each byte. Reuse is gated on a staging
    # manifest (input path + n_buckets), never on mere existence: a resumed
    # run must not silently read stale data staged from a different input
    # or with a different bucket modulus, and resume=False always restages.
    staging_meta = {"input_path": _input_key(input_path), "n_buckets": n_buckets}
    if not (resume and _fresh(staged_path, "_staging_meta.json", staging_meta)):
        # Restaging means the prior run's work does not apply (different
        # input, different modulus, or an explicit fresh run) — clear ALL
        # prior outputs first. Stale lineage would mark buckets done and
        # return the old outputs wholesale; stale decisions/metrics/
        # conversations partitions would survive dynamic overwrite wherever
        # the new input puts zero rows in a bucket the old input populated;
        # a fitted sidecar's reuse gate records only its mode, so it would
        # serve an artifact fitted on the OLD corpus.
        for stale in (
            lineage_path,
            decisions_path,
            metrics_path,
            dup_convs_path,
            conversations_path,
            *(st.sidecar for st in stages if st.sidecar),
        ):
            shutil.rmtree(stale, ignore_errors=True)
        (
            read_input(spark, input_path)
            .withColumn("bucket", _bucket_col(n_buckets))
            .repartition("bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(staged_path)
        )
        with open(os.path.join(staged_path, "_staging_meta.json"), "w") as fh:
            json.dump(staging_meta, fh)
    src = spark.read.parquet(staged_path)

    dedup_mode = (
        "+".join(
            part
            for part in (
                "exact" if conv_dedup else "",
                f"near:{conv_near_threshold}" if conv_near_dedup else "",
                f"bloom:{_artifact_key(bloom_history)}" if bloom_history else "",
            )
            if part
        )
        or "none"
    )
    dup_schema = (
        "conv_id string, canonical_conv_id string, fp string, "
        "group_size long, method string, bucket int"
    )
    if dedup_mode != "none" and not _fresh(
        dup_convs_path, "_dedup_meta.json", {"mode": dedup_mode}
    ):
        # ONE corpus-wide pass per staging+mode. Exact leg: conversation
        # rollup (single shuffle on conv_id, map-side partial collect_list)
        # + group stats as window aggregates over fp (one shuffle on a
        # 16-byte key; a groupBy + join back would plan the rollup and the
        # staged/ scan twice, since the join side's Filter blocks exchange
        # reuse). Near leg:
        # MinHash-LSH pairs over the rollup (bucket-capped banded join,
        # exact-Jaccard verify — eager-materializing) + label-propagation
        # components; canonical = the cluster's min conv_id, matching the
        # exact leg's policy. bucket is recomputed from conv_id (pure
        # function), so the sidecar partitions align with the staged input
        # and each wave reads only its own directories.
        from piperider_spark.functions.text import fingerprint

        legs = []
        # the conversation rollup (one shuffle on conv_id) is shared by the
        # exact and bloom legs; persist only when both consume it
        rolled = (
            _dedup.conversation_text(src, sep="\x1e") if (conv_dedup or bloom_history) else None
        )
        if conv_dedup and bloom_history:
            rolled = rolled.persist()
        if conv_dedup:
            by_fp = Window.partitionBy("fp")
            legs.append(
                rolled.select("conv_id", fingerprint("conv_text").alias("fp"))
                .where(F.col("fp").isNotNull())
                .withColumns(
                    {
                        "group_size": F.count(F.lit(1)).over(by_fp),
                        "canonical_conv_id": F.min("conv_id").over(by_fp),
                    }
                )
                .where(
                    (F.col("group_size") > 1)
                    & (F.col("conv_id") != F.col("canonical_conv_id"))
                )
                .select(
                    "conv_id",
                    "canonical_conv_id",
                    "fp",
                    "group_size",
                    F.lit("exact").alias("method"),
                )
            )
        if conv_near_dedup:
            pairs = _dedup.conversation_near_dup_pairs(
                src, threshold=conv_near_threshold
            )
            clusters = _dedup.connected_components(pairs, id_a="id_a", id_b="id_b")
            sizes = clusters.groupBy("cluster_id").agg(
                F.count(F.lit(1)).alias("group_size")
            )
            legs.append(
                clusters.where(F.col("id") != F.col("cluster_id"))
                .join(sizes, "cluster_id")
                .select(
                    F.col("id").alias("conv_id"),
                    F.col("cluster_id").alias("canonical_conv_id"),
                    F.lit(None).cast("string").alias("fp"),
                    "group_size",
                    F.lit("near").alias("method"),
                )
            )
        if bloom_history:
            # cross-run leg: probe each conversation's transcript
            # fingerprint against the history snapshot — map-side (one
            # conv rollup shuffle, ZERO shuffle against the archive).
            # canonical_conv_id is NULL: the keeper lives in a previous
            # epoch's output. group_size NULL likewise (unknown here).
            legs.append(
                _dedup.bloom_seen_flags(
                    rolled, _dedup.load_bloom(bloom_history), text_col="conv_text"
                )
                .where(F.col("maybe_seen"))
                .select(
                    "conv_id",
                    F.lit(None).cast("string").alias("canonical_conv_id"),
                    fingerprint("conv_text").alias("fp"),
                    F.lit(None).cast("long").alias("group_size"),
                    F.lit("bloom_history").alias("method"),
                )
            )
        dups = legs[0]
        for leg in legs[1:]:
            dups = dups.unionByName(leg)
        (
            dups.withColumn("bucket", _bucket_col(n_buckets))
            .repartition("bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(dup_convs_path)
        )
        with open(os.path.join(dup_convs_path, "_dedup_meta.json"), "w") as fh:
            json.dump({"mode": dedup_mode}, fh)
        if conv_dedup and bloom_history:
            rolled.unpersist()

    # Fit (once per staging) or load each enabled stage's artifact.
    artifacts = {}
    try:
        for st in on:
            artifacts[st.key] = _fit_or_load(st)
    finally:
        for df in labels:
            df.unpersist()

    spec_sig = _spec_sig(spec)
    done: set[int] = set()
    # Only a lineage/ with no parquet file means nothing is done yet; any
    # other failure to read it is reported, not taken as "reprocess all".
    if resume and _has_parquet(lineage_path):
        try:
            # mergeSchema: lineage written before a column existed still
            # reads (the column is null there; _lineage_col defaults it)
            lin = spark.read.option("mergeSchema", "true").parquet(lineage_path)
            if "dedup_mode" in lin.columns:
                dedup_col = _lineage_col(lin, "dedup_mode", "none")
            else:  # pre-mode lineage: a boolean exact-dedup flag
                dedup_col = F.when(_lineage_col(lin, "conv_dedup", False), "exact").otherwise(
                    "none"
                )
            # Judge each bucket by its LATEST lineage row only: lineage is
            # append-only, so after a mode flip (e.g. dedup on → off → on)
            # BOTH mode values exist for a bucket, but decisions/ holds
            # only the most recent processing's content. A bucket is done
            # iff that latest processing used the same modes and rule
            # thresholds (lineage from before spec_sig existed ran under
            # DEFAULT_SPEC) and, when conv_rollup is requested, produced the
            # rollup output at the same threshold.
            last = lin.groupBy("bucket").agg(
                F.max_by(
                    F.struct(
                        _lineage_col(lin, "conv_rollup", False).alias("rollup"),
                        _lineage_col(lin, "rollup_frac", 0.5).alias("rollup_frac"),
                        _lineage_col(lin, "spec_sig", _spec_sig(DEFAULT_SPEC)).alias("spec"),
                        dedup_col.alias("dedup"),
                        *(
                            _lineage_col(lin, f"{st.key}_mode", "none").alias(st.key)
                            for st in stages
                        ),
                    ),
                    _lineage_col(lin, "ts", 0.0),
                ).alias("s")
            )
            ok = (F.col("s.spec") == spec_sig) & (F.col("s.dedup") == dedup_mode)
            for st in stages:
                ok &= F.col(f"s.{st.key}") == st.mode
            if conv_rollup:
                ok &= F.col("s.rollup") & (F.col("s.rollup_frac") == float(conv_min_keep_frac))
            done = {r["bucket"] for r in last.where(ok).collect()}
        except Exception as e:
            raise RuntimeError(
                f"cannot read the lineage at {lineage_path} to decide which buckets "
                f"are done ({e.__class__.__name__}); fix or remove it, or rerun with "
                "--no-resume to reprocess every bucket"
            ) from e

    todo = [b for b in range(n_buckets) if b not in done]
    processed = 0
    out_cols = [
        "bucket", "conv_id", "turn_idx", "role", "ts",
        "keep", "reasons", "lang", "ppl", "text_scrubbed",
        *(c for st in on for c in st.columns),
    ]

    def write_metrics(read_back: DataFrame) -> None:
        # per-bucket metrics: PipeRider's run.json per partition (SURVEY
        # §7.1 item 5) — one groupBy(bucket) (partial agg map-side).
        # `reasons` is built from exactly the coalesced r_* flags
        # (rules/heuristics.apply_rules), so counting names is exact.
        reason_aggs = [
            F.sum(F.array_contains("reasons", name).cast("long")).alias(f"n_{name}")
            for name in spec.reason_order
        ]
        (
            read_back.groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n_turns"),
                F.sum(F.col("keep").cast("long")).alias("n_kept"),
                F.count_distinct("conv_id").alias("n_convs"),
                F.min("ts").alias("ts_min"),
                F.max("ts").alias("ts_max"),
                *reason_aggs,
            )
            .withColumn("run_id", F.lit(run_id))
            .repartition("bucket")
            .write.mode("overwrite")  # dynamic: idempotent under crash-resume
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(metrics_path)
        )

    def write_conversations(read_back: DataFrame) -> None:
        # bucket is a pure function of conv_id — recompute it on the
        # conversation-grain rows (no join back to the turn-grain data)
        (
            conversation_rollup(read_back, conv_min_keep_frac)
            .withColumn("bucket", _bucket_col(n_buckets))
            .repartition("bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(conversations_path)
        )

    def finish_wave(
        wave: list[int], written: list[str], read_schema: StructType, t0: float
    ) -> None:
        """A wave's aggregates and lineage commit, on the writer thread:
        metrics/ here and conversations/ on the pool's other worker at the
        same time, then the lineage append once both have succeeded. A
        bucket with zero rows has no decisions dir, so an empty wave writes
        no metrics or conversations rows."""
        side = None
        try:
            if written:
                # only this wave's partition dirs (listing all of decisions/
                # would cost a job per wave at 10^4 buckets), with the
                # written plan's schema (inference would cost another job)
                read_back = (
                    spark.read.schema(read_schema)
                    .option("basePath", decisions_path)
                    .parquet(*written)
                )
                if conv_rollup:
                    side = pool.submit(
                        inheritable_thread_target(spark)(write_conversations),
                        read_back,
                    )
                write_metrics(read_back)
        finally:
            side_err = side.exception() if side is not None else None
        if side_err is not None:
            raise side_err

        # Lineage from a driver-side Arrow table: a LocalTableScan, so no
        # Python worker starts to store a handful of rows; one file per wave.
        # Columns in LINEAGE_SCHEMA order.
        import pyarrow as pa

        elapsed = int((time.time() - t0) * 1000)
        n = len(wave)
        lineage_rows = pa.table(
            {
                "run_id": [run_id] * n,
                "bucket": pa.array(wave, pa.int32()),
                "elapsed_ms": pa.array([elapsed] * n, pa.int64()),
                "conv_rollup": [bool(conv_rollup)] * n,
                "dedup_mode": [dedup_mode] * n,
                **{f"{st.key}_mode": [st.mode] * n for st in stages},
                "spec_sig": [spec_sig] * n,
                "rollup_frac": [float(conv_min_keep_frac)] * n,
                "ts": [time.time()] * n,
            }
        )
        (
            spark.createDataFrame(lineage_rows, LINEAGE_SCHEMA)
            .coalesce(1)
            .write.mode("append")
            .parquet(lineage_path)
        )

    # Process pending buckets in waves: ONE job per wave (not per bucket — a
    # per-bucket loop would rescan the input n_buckets times). The main
    # thread writes each wave's decisions; the writer thread then takes the
    # wave's aggregates and lineage commit while the main thread writes the
    # next wave's decisions. At most one wave's post-work is in flight, so
    # lineage appends stay serial and no two jobs write the same path; a
    # crash loses at most two waves. Every thread target is wrapped in
    # inheritable_thread_target so background jobs keep the caller's job
    # group and local properties; it is wrapped per submit because each wrap
    # clones them, and two threads sharing one copy would overwrite each
    # other's SQL execution id.
    pending = None  # the previous wave's finish_wave future
    with ThreadPoolExecutor(max_workers=2, thread_name_prefix="wave-writer") as pool:
        for w in range(0, len(todo), wave_buckets):
            wave = todo[w : w + wave_buckets]
            t0 = time.time()
            # partition-column predicate → directory pruning at the scan
            part = src.where(F.col("bucket").isin(wave))
            if dedup_mode != "none":
                # explicit schema: a dup-free corpus writes a file-less sidecar
                # (only _SUCCESS), which schema inference cannot read
                dup_wave = (
                    spark.read.schema(dup_schema)
                    .parquet(dup_convs_path)
                    .where(F.col("bucket").isin(wave))
                    .select("conv_id")
                )
                # left-anti on conv_id: both sides pruned to this wave's
                # buckets; no broadcast hint — the dup list is usually tiny
                # (AQE broadcasts it) but is corpus-shaped in the worst case
                part = part.join(dup_wave, "conv_id", "left_anti")
            for st in on:
                part = st.project(part, artifacts[st.key])
            # Make dynamic overwrite EXACT for reprocessed buckets: a mode-flip
            # reprocess that yields ZERO rows for a bucket writes no partition
            # at all, and dynamic overwrite would leave the previous
            # processing's rows behind while lineage records the bucket done
            # under the new mode (review finding). Every bucket in this wave is
            # in `todo` — i.e. NOT committed under the current modes — so
            # purging its partitions is safe; a crash before the lineage append
            # leaves the bucket not-done and it reprocesses.
            for _base in (decisions_path, metrics_path, conversations_path):
                for _b in wave:
                    shutil.rmtree(os.path.join(_base, f"bucket={_b}"), ignore_errors=True)

            # No cache: the decisions write is the ONLY consumer of `decided`, so
            # the fused signals/scrub UDF and the lag-window shuffle run once per
            # row, and AQE may coalesce the post-window stage (it cannot inside
            # a cached plan).
            out = build_decisions(part, spec).select(*out_cols)
            (
                out.repartition("bucket")
                .sortWithinPartitions("conv_id", "turn_idx")  # stable north-rule ordering
                .write.mode("overwrite")  # dynamic: replaces only this wave's buckets
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(decisions_path)
            )

            written = [
                d
                for d in (os.path.join(decisions_path, f"bucket={b}") for b in wave)
                if os.path.isdir(d)
            ]
            narrow = ("bucket", "conv_id", "role", "ts", "keep", "reasons")
            read_schema = StructType([out.schema[c] for c in narrow])
            if pending is not None:
                pending.result()  # the previous wave's commit, or its error
            pending = pool.submit(
                inheritable_thread_target(spark)(finish_wave), wave, written, read_schema, t0
            )
            processed += len(wave)
        if pending is not None:
            pending.result()

    # The next epochs' Bloom snapshots: conversation fingerprints (the
    # bloom_history grain) and turn windows (the substr stage's grain, whose
    # k_tokens epoch 1 sets and later epochs inherit).
    if bloom_out:
        _save_epoch_bloom(
            bloom_out,
            _dedup.load_bloom(bloom_history) if bloom_history else None,
            bloom_expected,
            partial(
                _dedup.build_fingerprint_bloom,
                _dedup.conversation_text(src, sep="\x1e"),
                text_col="conv_text",
            ),
        )
    if substr_bloom_out:
        k_tokens = int(substr_bloom["k_tokens"]) if substr_bloom else substr_bloom_k
        _save_epoch_bloom(
            substr_bloom_out,
            substr_bloom,
            substr_bloom_expected,
            partial(_dedup.build_window_bloom, src, k_tokens=k_tokens),
        )

    return PipelineResult(
        run_id=run_id,
        n_buckets=n_buckets,
        buckets_processed=processed,
        buckets_skipped=len(done),
        decisions_path=decisions_path,
        metrics_path=metrics_path,
        lineage_path=lineage_path,
    )


def add_pipeline_args(p: argparse.ArgumentParser) -> argparse.ArgumentParser:
    """Declare the filter job's flags on ``p``: the one declaration behind
    ``python -m piperider_spark.pipeline`` and ``piperider_spark.cli
    filter``. Each flag's dest is the ``run_pipeline`` parameter it sets,
    and a flag not given stays out of the parsed namespace, so
    ``run_pipeline(spark, **vars(args))`` applies the function's own
    defaults."""
    p.argument_default = argparse.SUPPRESS
    p.add_argument(
        "--input",
        dest="input_path",
        metavar="INPUT",
        required=True,
        help="parquet path/dir, or table:<catalog identifier> "
        "(an Iceberg table when an Iceberg catalog is configured)",
    )
    p.add_argument("--output", dest="output_dir", metavar="OUTPUT", required=True)
    p.add_argument("--buckets", dest="n_buckets", metavar="BUCKETS", type=int)
    p.add_argument("--no-resume", dest="resume", action="store_false")
    p.add_argument(
        "--conv-rollup",
        action="store_true",
        help="also write conversations/ (conversation-grain stats + keep)",
    )
    p.add_argument(
        "--conv-min-keep-frac",
        type=float,
        help="kept-turn fraction a conversation needs for conv_keep "
        "(with --conv-rollup; default 0.5)",
    )
    p.add_argument(
        "--wave-buckets",
        type=int,
        help="buckets per wave job (default 8); a crash can lose up to two "
        "waves: one wave's decisions plus the previous wave's pending "
        "aggregates",
    )
    p.add_argument(
        "--conv-dedup",
        action="store_true",
        help="drop exactly-duplicated conversations before the rules run "
        "(dropped list written to dup_convs/)",
    )
    p.add_argument(
        "--conv-near-dedup",
        action="store_true",
        help="also drop NEAR-duplicate conversations (MinHash-LSH + "
        "connected components at --conv-near-threshold Jaccard)",
    )
    p.add_argument("--conv-near-threshold", type=float)
    p.add_argument(
        "--bloom-history",
        help="Bloom snapshot of previous epochs' conversation fingerprints "
        "(save_bloom artifact): seen conversations are dropped map-side — "
        "cross-run dedup with zero shuffle against the archive",
    )
    p.add_argument(
        "--bloom-out",
        help="write the next epoch's snapshot (history ∪ this corpus) here "
        "after the waves complete",
    )
    p.add_argument(
        "--bloom-expected",
        type=int,
        help="first-epoch bitset sizing: expected TOTAL conversations over "
        "the archive's growth horizon (later epochs inherit the layout)",
    )
    p.add_argument(
        "--dsir-fit",
        metavar="PREDICATE",
        help="SQL predicate selecting the DSIR target slice (e.g. "
        "\"role = 'assistant'\"); fits once per staging and adds a "
        "dsir_score column to decisions/",
    )
    p.add_argument(
        "--dsir-ratio-path",
        help="externally fitted (bucket, log_ratio) parquet — score with "
        "it instead of fitting in-run",
    )
    p.add_argument("--dsir-buckets", type=int)
    p.add_argument(
        "--substr-bloom-history",
        help="WINDOW-grain Bloom snapshot (build_window_bloom artifact) of "
        "the archive's k-token windows: adds a substr_seen_frac column to "
        "decisions/ — per-turn fraction of tokens covered by substrings "
        "already in history, scored map-side with zero shuffle",
    )
    p.add_argument(
        "--substr-bloom-out",
        help="write the next epoch's window snapshot (history ∪ this "
        "corpus' turn windows) here after the waves complete",
    )
    p.add_argument(
        "--substr-bloom-expected",
        type=int,
        help="first-epoch window-bitset sizing: expected TOTAL windows "
        "(~tokens) over the archive's growth horizon",
    )
    p.add_argument(
        "--substr-bloom-k",
        type=int,
        help="window width in tokens for the FIRST epoch (later epochs "
        "inherit the artifact's k_tokens)",
    )
    p.add_argument(
        "--bpe-merges",
        dest="bpe_merges_path",
        metavar="BPE_MERGES",
        help="path to a trained BPE merge-table artifact "
        "(operators/bpe.merges_to_df parquet): adds an n_bpe_subwords "
        "column to decisions/ — per-turn model-token count under the "
        "frozen tokenizer, scored map-side with zero shuffle",
    )
    p.add_argument(
        "--bpe-train",
        type=int,
        help="train a BPE tokenizer of this many merges ONCE per staging "
        "(word counts: one shuffle; merge loop: driver-side on the "
        "bounded frequency table), write it to <output>/bpe_merges, and "
        "score n_bpe_subwords with it",
    )
    p.add_argument(
        "--clf-model",
        dest="clf_model_path",
        metavar="CLF_MODEL",
        help="path to a trained quality-classifier artifact "
        "(operators/classifier.model_to_df parquet): adds a clf_score "
        "column to decisions/ — keep-probability under the learned "
        "model, scored map-side with zero shuffle",
    )
    p.add_argument(
        "--clf-train",
        type=int,
        help="distill the rule layer ONCE per staging: the frozen spec's "
        "keep labels train a hashed-n-gram logistic regression for this "
        "many epochs (one B-bounded shuffle each), written to "
        "<output>/clf_model and scored as clf_score",
    )
    p.add_argument(
        "--langid-model",
        dest="langid_model_path",
        metavar="LANGID_MODEL",
        help="path to a trained learned-langid artifact "
        "(operators/langid_model.langid_model_to_df parquet): adds "
        "ft_lang / ft_lang_prob columns to decisions/ — the fastText-"
        "style model's prediction next to the frozen lang column, "
        "scored map-side with zero shuffle",
    )
    p.add_argument(
        "--langid-train",
        type=int,
        help="distill the frozen langid heuristic ONCE per staging: its "
        "lang labels train the hashed char+word n-gram softmax for this "
        "many epochs (one bounded shuffle each), written to "
        "<output>/langid_model and scored as ft_lang / ft_lang_prob",
    )
    return p


def main(argv: list[str] | None = None) -> None:  # pragma: no cover — spark-submit entry
    from piperider_spark.session import get_spark

    p = argparse.ArgumentParser(description="transcript quality-filter pipeline")
    args = add_pipeline_args(p).parse_args(argv)
    res = run_pipeline(get_spark("piperider_spark.pipeline"), **vars(args))
    print(json.dumps(res.__dict__))


if __name__ == "__main__":  # pragma: no cover
    main()
