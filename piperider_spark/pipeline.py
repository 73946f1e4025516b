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
* Lineage/resume: each completed bucket writes one lineage row (run_id,
  bucket, modes, wave wall ms), one file per wave from a driver-side Arrow
  table (no Python worker). A restarted run anti-joins finished buckets and
  only processes the remainder — the Iceberg-snapshot checkpoint model of
  SURVEY.md §2.9 expressed over parquet in this sandbox.
* At 10^12 turns: n_buckets scales to ~10^4; each wave is an independent
  job over ~10^8 turns, bounded memory, restartable at bucket granularity.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, Window
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
    wave in flight on the calling thread has been written.

    Outputs under ``output_dir``:
      decisions/      conv_id, turn_idx, role, ts, keep, reasons, lang, ppl,
                      text_scrubbed — partitioned by bucket
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
    — every later epoch inherits that layout, and a filter sized only for
    epoch 1 saturates (fpp →1) as insertions accumulate. The history
    artifact's identity joins the lineage dedup mode, so resuming against
    a different snapshot reprocesses buckets.

    ``dsir_fit`` (a SQL predicate over the input columns selecting the
    TARGET slice, e.g. ``"role = 'assistant'"``) fits a DSIR importance
    model ONCE per staging (operators/dsir.py — two B-bounded aggs, the
    log-ratio table written to dsir_ratio/ as an audit record) and adds a
    ``dsir_score`` column to decisions/; ``dsir_ratio_path`` instead loads
    an externally-fitted table (the production shape: fit offline on a
    trusted target corpus, score everywhere). Scoring is a zero-shuffle
    row-local projection (the ≤``dsir_buckets``-row table rides the plan
    as one array literal), so the stage adds no per-wave exchanges.
    Lineage records the DSIR mode like the dedup mode: resuming with a
    different fit/ratio reprocesses rather than mixing scores.

    ``substr_bloom_history`` extends the gate below conversation grain: a
    WINDOW-grain Bloom snapshot (operators/dedup.build_window_bloom
    artifact — history's k-token-window hashes) adds a
    ``substr_seen_frac`` column to decisions/: the fraction of each turn's
    tokens covered by substrings already present in the archive (merged
    k-token windows, case-insensitive). Zero shuffle — row-local JVM
    window hashes + one broadcast-bitset Arrow probe riding the wave plan,
    never a join against history. Score, not drop: substring overlap is a
    quality signal (boilerplate, quoted context, templated turns), and the
    cut belongs downstream with the other signals. ``substr_bloom_out``
    writes the next epoch's window snapshot (history ∪ this corpus' turn
    windows, inherited layout; epoch 1 sizes via
    ``substr_bloom_expected``/``substr_bloom_k``). Lineage records the
    substring mode like the others: a history flip reprocesses.

    ``clf_train`` distills the rule layer into a learned quality
    classifier ONCE per staging: the frozen spec's keep labels (one
    build_decisions pass over the staged input) train a hashed-n-gram
    logistic regression for that many epochs (operators/classifier.py —
    one B-bounded shuffle per epoch, exact decimal gradients), the
    (bucket, weight) artifact is written to clf_model/, and decisions
    gain a ``clf_score`` column — the keep-probability under the learned
    model, scored as a zero-shuffle sigmoid projection. ``clf_model_path``
    instead loads an externally-trained artifact (one frozen classifier
    across epochs — the production shape). Lineage records the classifier
    mode like the others: swapping or dropping it reprocesses.

    ``langid_train`` distills the frozen langid heuristic into the
    fastText-style learned model ONCE per staging: the heuristic's
    ``lang`` labels (the same build_decisions pass the classifier uses)
    train the hashed char+word n-gram softmax for that many epochs
    (operators/langid_model.py — one bounded shuffle per epoch, exact
    decimal gradients), the (bucket, class, weight) artifact is written
    to langid_model/, and decisions gain ``ft_lang`` / ``ft_lang_prob``
    columns — the learned model's prediction scored as a zero-shuffle
    projection NEXT TO the frozen ``lang`` column (the frozen column
    stays byte-identical: the learned model occupies the documented
    swap seam without touching the keep/drop contract).
    ``langid_model_path`` instead loads an externally-trained artifact
    (the production shape — e.g. fitted on a genuinely multilingual
    corpus, where the linear model separates; the synthetic teacher
    labels here exercise the plumbing). Lineage records the langid mode
    like the others: swapping or dropping it reprocesses.

    ``bpe_train`` learns a BPE tokenizer of that many merges ONCE per
    staging (operators/bpe.py — ONE word-count shuffle, then the driver
    merge loop over the Heaps'-bounded frequency table; the merge table is
    written to bpe_merges/ as the shippable artifact) and adds an
    ``n_bpe_subwords`` column to decisions/ — each turn's model-token
    count under the learned vocabulary, the number token-budget packing
    and cost accounting run on. ``bpe_merges_path`` instead loads an
    externally-trained artifact (the production shape: one frozen
    tokenizer across epochs). Scoring is a zero-shuffle stateless
    projection (JVM pre-tokenization + one Arrow crossing returning just
    the count). Lineage records the BPE mode like the others: swapping or
    dropping the tokenizer reprocesses rather than mixing counts from
    different vocabularies."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    run_id = run_id or uuid.uuid4().hex[:12]
    decisions_path = os.path.join(output_dir, "decisions")
    metrics_path = os.path.join(output_dir, "metrics")
    lineage_path = os.path.join(output_dir, "lineage")
    staged_path = os.path.join(output_dir, "staged")
    dup_convs_path = os.path.join(output_dir, "dup_convs")

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
    meta_path = os.path.join(staged_path, "_staging_meta.json")
    reuse = resume and os.path.exists(os.path.join(staged_path, "_SUCCESS"))
    if reuse:
        try:
            with open(meta_path) as fh:
                reuse = json.load(fh) == staging_meta
        except (OSError, ValueError):
            reuse = False
    if not reuse:
        (
            read_input(spark, input_path)
            .withColumn("bucket", _bucket_col(n_buckets))
            .repartition("bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(staged_path)
        )
        with open(meta_path, "w") as fh:
            json.dump(staging_meta, fh)
        # Restaging means the prior run's work does not apply (different
        # input, different modulus, or an explicit fresh run) — clear ALL
        # prior outputs. Stale lineage would mark buckets done and return
        # the old outputs wholesale; stale decisions/metrics partitions
        # would survive dynamic overwrite wherever the new input happens to
        # put zero rows in a bucket the old input populated.
        import shutil

        for stale in (
            lineage_path,
            decisions_path,
            metrics_path,
            dup_convs_path,
            os.path.join(output_dir, "dsir_ratio"),
            # every trained-on-this-staging sidecar: their reuse gates
            # record only the MODE, so after an input change they would
            # match and serve artifacts fitted on the OLD corpus
            os.path.join(output_dir, "bpe_merges"),
            os.path.join(output_dir, "clf_model"),
            os.path.join(output_dir, "langid_model"),
            # conversations/ rollup partitions from the old input survive
            # dynamic overwrite wherever the new input leaves a bucket empty
            os.path.join(output_dir, "conversations"),
        ):
            shutil.rmtree(stale, ignore_errors=True)
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
    dup_meta_path = os.path.join(dup_convs_path, "_dedup_meta.json")
    dup_reuse = os.path.exists(os.path.join(dup_convs_path, "_SUCCESS"))
    if dup_reuse:
        try:
            with open(dup_meta_path) as fh:
                dup_reuse = json.load(fh) == {"mode": dedup_mode}
        except (OSError, ValueError):
            dup_reuse = False
    if dedup_mode != "none" and not dup_reuse:
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
        from piperider_spark.operators.dedup import (
            connected_components,
            conversation_near_dup_pairs,
            conversation_text,
        )

        legs = []
        # the conversation rollup (one shuffle on conv_id) is shared by the
        # exact and bloom legs; persist only when both consume it
        rolled = (
            conversation_text(src, sep="\x1e") if (conv_dedup or bloom_history) else None
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
            pairs = conversation_near_dup_pairs(
                src, threshold=conv_near_threshold
            )
            clusters = connected_components(pairs, id_a="id_a", id_b="id_b")
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
            from piperider_spark.operators.dedup import bloom_seen_flags, load_bloom

            hist_bloom = load_bloom(bloom_history)
            legs.append(
                bloom_seen_flags(rolled, hist_bloom, text_col="conv_text")
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
        with open(dup_meta_path, "w") as fh:
            json.dump({"mode": dedup_mode}, fh)
        if conv_dedup and bloom_history:
            rolled.unpersist()

    if dsir_ratio_path:
        dsir_mode = f"path:{_artifact_key(dsir_ratio_path)}:{dsir_buckets}"
    elif dsir_fit:
        dsir_mode = f"fit:{dsir_fit}:{dsir_buckets}"
    else:
        dsir_mode = "none"
    dsir_arr: list[float] | None = None
    if dsir_mode != "none":
        from piperider_spark.operators import dsir as _dsir

        if dsir_ratio_path:
            ratio_src = dsir_ratio_path
        else:
            # fit ONCE per staging+predicate; the B-bounded log-ratio table
            # is written as an audit record (same sidecar contract as
            # dup_convs: meta manifest + reuse gated on the mode string)
            ratio_src = os.path.join(output_dir, "dsir_ratio")
            ratio_meta_path = os.path.join(ratio_src, "_dsir_meta.json")
            ratio_reuse = os.path.exists(os.path.join(ratio_src, "_SUCCESS"))
            if ratio_reuse:
                try:
                    with open(ratio_meta_path) as fh:
                        ratio_reuse = json.load(fh) == {"mode": dsir_mode}
                except (OSError, ValueError):
                    ratio_reuse = False
            if not ratio_reuse:
                (
                    _dsir.fit_bucket_log_ratio(
                        src,
                        src.where(F.expr(dsir_fit)),
                        text_col="text",
                        n_buckets=dsir_buckets,
                    )
                    .coalesce(1)  # ≤ dsir_buckets rows — one tiny file
                    .write.mode("overwrite")
                    .parquet(ratio_src)
                )
                with open(ratio_meta_path, "w") as fh:
                    json.dump({"mode": dsir_mode}, fh)
        # bounded collect (≤ dsir_buckets rows) → one array literal shared
        # by every wave's zero-shuffle scoring projection
        dsir_arr = _dsir.log_ratio_array(
            spark.read.parquet(ratio_src), n_buckets=dsir_buckets
        )

    if bpe_merges_path:
        bpe_mode = f"path:{_artifact_key(bpe_merges_path)}"
    elif bpe_train:
        bpe_mode = f"train:{int(bpe_train)}"
    else:
        bpe_mode = "none"
    bpe_merges: list[tuple[str, str]] | None = None
    if bpe_mode != "none":
        from piperider_spark.operators import bpe as _bpe

        if bpe_merges_path:
            merges_src = bpe_merges_path
        else:
            # fit ONCE per staging (the same sidecar contract as dsir_ratio:
            # meta manifest, reuse gated on the mode string); the artifact
            # (rank, left, right, merged) is the shippable tokenizer
            merges_src = os.path.join(output_dir, "bpe_merges")
            merges_meta_path = os.path.join(merges_src, "_bpe_meta.json")
            merges_reuse = os.path.exists(os.path.join(merges_src, "_SUCCESS"))
            if merges_reuse:
                try:
                    with open(merges_meta_path) as fh:
                        merges_reuse = json.load(fh) == {"mode": bpe_mode}
                except (OSError, ValueError):
                    merges_reuse = False
            if not merges_reuse:
                fitted = _bpe.train_bpe(
                    _bpe.bpe_word_counts(
                        src, "text", min_count=2, top_words=50_000
                    ),
                    n_merges=int(bpe_train),
                )
                (
                    _bpe.merges_to_df(spark, fitted)
                    .coalesce(1)  # ≤ n_merges rows — one tiny file
                    .write.mode("overwrite")
                    .parquet(merges_src)
                )
                with open(merges_meta_path, "w") as fh:
                    json.dump({"mode": bpe_mode}, fh)
        bpe_merges = _bpe.load_merges(spark, merges_src)

    if clf_model_path:
        clf_mode = f"path:{_artifact_key(clf_model_path)}"
    elif clf_train:
        clf_mode = f"train:{int(clf_train)}"
    else:
        clf_mode = "none"
    clf_model: dict | None = None
    if clf_mode != "none":
        from piperider_spark.operators import classifier as _clf

        if clf_model_path:
            model_src = clf_model_path
        else:
            # self-distillation, fit ONCE per staging: the frozen spec's
            # keep labels (one build_decisions pass) train the classifier;
            # sidecar contract identical to dsir_ratio/bpe_merges
            model_src = os.path.join(output_dir, "clf_model")
            clf_meta_path = os.path.join(model_src, "_clf_meta.json")
            clf_reuse = os.path.exists(os.path.join(model_src, "_SUCCESS"))
            if clf_reuse:
                try:
                    with open(clf_meta_path) as fh:
                        clf_reuse = json.load(fh) == {"mode": clf_mode}
                except (OSError, ValueError):
                    clf_reuse = False
            if not clf_reuse:
                labeled = build_decisions(src, spec).select("text", "keep")
                fitted = _clf.fit_quality_classifier(
                    labeled, epochs=int(clf_train)
                )
                (
                    _clf.model_to_df(spark, fitted)
                    .coalesce(1)  # ≤ n_buckets+1 rows — one tiny file
                    .write.mode("overwrite")
                    .parquet(model_src)
                )
                with open(clf_meta_path, "w") as fh:
                    json.dump({"mode": clf_mode}, fh)
        clf_model = _clf.model_from_df(spark.read.parquet(model_src))

    if langid_model_path:
        langid_mode = f"path:{_artifact_key(langid_model_path)}"
    elif langid_train:
        langid_mode = f"train:{int(langid_train)}"
    else:
        langid_mode = "none"
    langid_model: dict | None = None
    if langid_mode != "none":
        from piperider_spark.operators import langid_model as _lm

        if langid_model_path:
            lm_src = langid_model_path
        else:
            # distill the frozen heuristic's lang labels, fit ONCE per
            # staging — sidecar contract identical to clf_model
            lm_src = os.path.join(output_dir, "langid_model")
            lm_meta_path = os.path.join(lm_src, "_langid_meta.json")
            lm_reuse = os.path.exists(os.path.join(lm_src, "_SUCCESS"))
            if lm_reuse:
                try:
                    with open(lm_meta_path) as fh:
                        lm_reuse = json.load(fh) == {"mode": langid_mode}
                except (OSError, ValueError):
                    lm_reuse = False
            if not lm_reuse:
                labeled = build_decisions(src, spec).select("text", "lang")
                fitted = _lm.fit_langid_model(
                    labeled, label_col="lang", epochs=int(langid_train)
                )
                (
                    _lm.langid_model_to_df(spark, fitted)
                    .coalesce(1)  # K×(n_buckets+1) rows — one tiny file
                    .write.mode("overwrite")
                    .parquet(lm_src)
                )
                with open(lm_meta_path, "w") as fh:
                    json.dump({"mode": langid_mode}, fh)
        langid_model = _lm.langid_model_from_df(spark.read.parquet(lm_src))

    substr_mode = (
        f"bloom:{_artifact_key(substr_bloom_history)}" if substr_bloom_history else "none"
    )
    substr_bloom: dict | None = None
    if substr_bloom_history:
        from piperider_spark.operators.dedup import load_bloom as _load_bloom

        substr_bloom = _load_bloom(substr_bloom_history)
        if substr_bloom.get("grain") != "window":
            raise ValueError(
                f"--substr-bloom-history needs a window-grain artifact "
                f"(build_window_bloom), got grain="
                f"{substr_bloom.get('grain', 'fingerprint')!r} from "
                f"{substr_bloom_history}"
            )

    # ONE broadcast of the (potentially GB-scale) bitset for the whole
    # run — window_seen_stats would otherwise re-broadcast it every wave
    substr_bits_bc = (
        spark.sparkContext.broadcast(substr_bloom["bits"]) if substr_bloom else None
    )

    spec_sig = _spec_sig(spec)
    done: set[int] = set()
    if resume and os.path.isdir(lineage_path):
        try:
            # mergeSchema: lineage written before the conv_rollup column
            # existed must still read (missing column ⇒ null ⇒ no rollup)
            lin = spark.read.option("mergeSchema", "true").parquet(lineage_path)

            def _flag(name: str) -> F.Column:
                # lineage written before a column existed reads as absent /
                # null under mergeSchema — treat as "flag was off"
                if name in lin.columns:
                    return F.coalesce(F.col(name), F.lit(False))
                return F.lit(False)

            ts_col = (
                F.coalesce(F.col("ts"), F.lit(0.0))
                if "ts" in lin.columns
                else F.lit(0.0)
            )
            if "dedup_mode" in lin.columns:
                mode_col = F.coalesce(F.col("dedup_mode"), F.lit("none"))
            elif "conv_dedup" in lin.columns:  # pre-mode lineage: boolean flag
                mode_col = F.when(_flag("conv_dedup"), F.lit("exact")).otherwise(
                    F.lit("none")
                )
            else:
                mode_col = F.lit("none")
            # Judge each bucket by its LATEST lineage row only: lineage is
            # append-only, so after a mode flip (e.g. dedup on → off → on)
            # BOTH mode values exist for a bucket, but decisions/ holds
            # only the most recent processing's content. A bucket is done
            # iff that latest processing used the same dedup mode (dedup
            # changes decision rows themselves) and, when conv_rollup is
            # requested, also produced the rollup output.
            dsir_col = (
                F.coalesce(F.col("dsir_mode"), F.lit("none"))
                if "dsir_mode" in lin.columns
                else F.lit("none")
            )
            substr_col = (
                F.coalesce(F.col("substr_mode"), F.lit("none"))
                if "substr_mode" in lin.columns
                else F.lit("none")
            )
            bpe_col = (
                F.coalesce(F.col("bpe_mode"), F.lit("none"))
                if "bpe_mode" in lin.columns
                else F.lit("none")
            )
            clf_col = (
                F.coalesce(F.col("clf_mode"), F.lit("none"))
                if "clf_mode" in lin.columns
                else F.lit("none")
            )
            langid_col = (
                F.coalesce(F.col("langid_mode"), F.lit("none"))
                if "langid_mode" in lin.columns
                else F.lit("none")
            )
            # lineage written before these columns existed reads as the
            # defaults it was produced under (DEFAULT_SPEC / 0.5) — the
            # same back-compat rule as the mode columns
            spec_col = (
                F.coalesce(F.col("spec_sig"), F.lit(_spec_sig(DEFAULT_SPEC)))
                if "spec_sig" in lin.columns
                else F.lit(_spec_sig(DEFAULT_SPEC))
            )
            frac_col = (
                F.coalesce(F.col("rollup_frac"), F.lit(0.5))
                if "rollup_frac" in lin.columns
                else F.lit(0.5)
            )
            last = lin.groupBy("bucket").agg(
                F.max_by(
                    F.struct(
                        _flag("conv_rollup").alias("r"),
                        mode_col.alias("m"),
                        dsir_col.alias("d"),
                        substr_col.alias("sb"),
                        bpe_col.alias("bp"),
                        clf_col.alias("cl"),
                        langid_col.alias("li"),
                        spec_col.alias("sp"),
                        frac_col.alias("rf"),
                    ),
                    ts_col,
                ).alias("s")
            )
            ok = (
                (F.col("s.m") == F.lit(dedup_mode))
                & (F.col("s.d") == F.lit(dsir_mode))
                & (F.col("s.sb") == F.lit(substr_mode))
                & (F.col("s.bp") == F.lit(bpe_mode))
                & (F.col("s.cl") == F.lit(clf_mode))
                & (F.col("s.li") == F.lit(langid_mode))
                # decisions depend on the rule thresholds themselves: a
                # changed RuleSpec must reprocess every bucket
                & (F.col("s.sp") == F.lit(spec_sig))
                & (F.col("s.r") | F.lit(not conv_rollup))
                # the rollup threshold shapes conversations/ content; only
                # binding when the rollup is requested
                & ((F.col("s.rf") == F.lit(float(conv_min_keep_frac))) | F.lit(not conv_rollup))
            )
            done = {r["bucket"] for r in last.where(ok).collect()}
        except Exception:
            done = set()

    todo = [b for b in range(n_buckets) if b not in done]
    processed = 0
    conversations_path = os.path.join(output_dir, "conversations")

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
                "dsir_mode": [dsir_mode] * n,
                "substr_mode": [substr_mode] * n,
                "bpe_mode": [bpe_mode] * n,
                "clf_mode": [clf_mode] * n,
                "langid_mode": [langid_mode] * n,
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
        for w in range(0, len(todo), max(wave_buckets, 1)):
            wave = todo[w : w + max(wave_buckets, 1)]
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
            if dsir_arr is not None:
                # zero-shuffle projection: the fitted table rides the plan as
                # one array literal (dsir.dsir_score_col), no per-wave joins
                from piperider_spark.operators.dsir import dsir_score_col

                part = part.withColumn("dsir_score", dsir_score_col("text", dsir_arr))
            if substr_bloom is not None:
                # zero-shuffle projection: row-local window hashes + broadcast
                # bitset probe (operators/dedup.window_seen_stats), no join
                # against the archive
                from piperider_spark.operators.dedup import window_seen_stats

                part = (
                    window_seen_stats(
                        part,
                        substr_bloom,
                        k_tokens=int(substr_bloom["k_tokens"]),
                        bits_bc=substr_bits_bc,
                    )
                    .withColumnRenamed("seen_frac", "substr_seen_frac")
                    .drop("n_tokens", "seen_windows", "seen_token_cov")
                )
            if bpe_merges is not None:
                # zero-shuffle projection: JVM pre-tokenize + one Arrow crossing
                # returning only the count (operators/bpe.bpe_subword_count_col)
                # — the frozen tokenizer rides every wave's plan, no joins
                from piperider_spark.operators.bpe import bpe_subword_count_col

                part = part.withColumn(
                    "n_bpe_subwords", bpe_subword_count_col(bpe_merges, "text")
                )
            if clf_model is not None:
                # zero-shuffle projection: weight-array-literal sigmoid fold
                # (operators/classifier.classifier_score_col), no joins
                from piperider_spark.operators.classifier import classifier_score_col

                part = part.withColumn(
                    "clf_score", classifier_score_col("text", clf_model)
                )
            if langid_model is not None:
                # zero-shuffle projection: staged prefix → gram buckets →
                # one margins fold (operators/langid_model.langid_scored);
                # the frozen `lang` column is untouched — ft_lang rides NEXT
                # to it (the documented swap seam, observed before cut over)
                from piperider_spark.operators.langid_model import langid_scored

                part = langid_scored(part, langid_model, "text")
            # Make dynamic overwrite EXACT for reprocessed buckets: a mode-flip
            # reprocess that yields ZERO rows for a bucket writes no partition
            # at all, and dynamic overwrite would leave the previous
            # processing's rows behind while lineage records the bucket done
            # under the new mode (review finding). Every bucket in this wave is
            # in `todo` — i.e. NOT committed under the current modes — so
            # purging its partitions is safe; a crash before the lineage append
            # leaves the bucket not-done and it reprocesses.
            import shutil as _sh

            for _base in (decisions_path, metrics_path, conversations_path):
                for _b in wave:
                    _sh.rmtree(os.path.join(_base, f"bucket={_b}"), ignore_errors=True)

            # No cache: the decisions write is the ONLY consumer of `decided`, so
            # the fused signals/scrub UDF and the lag-window shuffle run once per
            # row, and AQE may coalesce the post-window stage (it cannot inside
            # a cached plan).
            decided = build_decisions(part, spec)

            out_cols = [
                "bucket", "conv_id", "turn_idx", "role", "ts",
                "keep", "reasons", "lang", "ppl", "text_scrubbed",
            ]
            if dsir_arr is not None:
                out_cols.append("dsir_score")
            if substr_bloom is not None:
                out_cols.append("substr_seen_frac")
            if bpe_merges is not None:
                out_cols.append("n_bpe_subwords")
            if clf_model is not None:
                out_cols.append("clf_score")
            if langid_model is not None:
                out_cols.extend(["ft_lang", "ft_lang_prob"])
            out = decided.select(*out_cols)
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

    if bloom_out:
        # next epoch's snapshot: history ∪ this corpus' conversation
        # fingerprints, in the history's bitset layout (first epoch sets
        # the layout; size it for the archive's growth horizon). Derived
        # from staged input + the history artifact only — idempotent, so
        # a resumed/no-op run rewrites the same content (atomic rename).
        from piperider_spark.operators.dedup import (
            bloom_or,
            build_fingerprint_bloom,
            load_bloom,
            save_bloom,
        )
        from piperider_spark.operators.dedup import conversation_text as _conv_text

        hist = load_bloom(bloom_history) if bloom_history else None
        cur = build_fingerprint_bloom(
            _conv_text(src, sep="\x1e"),
            text_col="conv_text",
            expected=None if hist else bloom_expected,
            fpp=hist["fpp"] if hist else 0.01,
            layout=(hist["m_bits"], hist["k"]) if hist else None,
        )
        save_bloom(bloom_or(hist, cur) if hist else cur, bloom_out)

    if substr_bloom_out:
        # window-grain epoch snapshot: history ∪ this corpus' turn windows
        # (same idempotent derived-from-staged contract as bloom_out);
        # epoch 1 sets k_tokens + layout, later epochs inherit both
        from piperider_spark.operators.dedup import (
            bloom_or as _wb_or,
            build_window_bloom as _wb_build,
            save_bloom as _wb_save,
        )

        wh = substr_bloom  # already loaded + grain-checked above
        cur_w = _wb_build(
            src,
            k_tokens=int(wh["k_tokens"]) if wh else substr_bloom_k,
            expected=None if wh else substr_bloom_expected,
            fpp=wh["fpp"] if wh else 0.01,
            layout=(wh["m_bits"], wh["k"]) if wh else None,
        )
        _wb_save(_wb_or(wh, cur_w) if wh else cur_w, substr_bloom_out)

    return PipelineResult(
        run_id=run_id,
        n_buckets=n_buckets,
        buckets_processed=processed,
        buckets_skipped=len(done),
        decisions_path=decisions_path,
        metrics_path=metrics_path,
        lineage_path=lineage_path,
    )


def main() -> None:  # pragma: no cover — spark-submit entry
    import argparse

    from piperider_spark.session import get_spark

    p = argparse.ArgumentParser(description="transcript quality-filter pipeline")
    p.add_argument(
        "--input",
        required=True,
        help="parquet path/dir, or table:<catalog identifier> "
        "(an Iceberg table when an Iceberg catalog is configured)",
    )
    p.add_argument("--output", required=True)
    p.add_argument("--buckets", type=int, default=16)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument(
        "--conv-rollup",
        action="store_true",
        help="also write conversations/ (conversation-grain stats + keep)",
    )
    p.add_argument(
        "--conv-min-keep-frac",
        type=float,
        default=0.5,
        help="kept-turn fraction a conversation needs for conv_keep "
        "(with --conv-rollup; default 0.5)",
    )
    p.add_argument(
        "--wave-buckets",
        type=int,
        default=8,
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
    p.add_argument("--conv-near-threshold", type=float, default=0.85)
    p.add_argument(
        "--bloom-history",
        default=None,
        help="Bloom snapshot of previous epochs' conversation fingerprints "
        "(save_bloom artifact): seen conversations are dropped map-side — "
        "cross-run dedup with zero shuffle against the archive",
    )
    p.add_argument(
        "--bloom-out",
        default=None,
        help="write the next epoch's snapshot (history ∪ this corpus) here "
        "after the waves complete",
    )
    p.add_argument(
        "--bloom-expected",
        type=int,
        default=None,
        help="first-epoch bitset sizing: expected TOTAL conversations over "
        "the archive's growth horizon (later epochs inherit the layout)",
    )
    p.add_argument(
        "--dsir-fit",
        default=None,
        metavar="PREDICATE",
        help="SQL predicate selecting the DSIR target slice (e.g. "
        "\"role = 'assistant'\"); fits once per staging and adds a "
        "dsir_score column to decisions/",
    )
    p.add_argument(
        "--dsir-ratio-path",
        default=None,
        help="externally fitted (bucket, log_ratio) parquet — score with "
        "it instead of fitting in-run",
    )
    p.add_argument("--dsir-buckets", type=int, default=4096)
    p.add_argument(
        "--substr-bloom-history",
        default=None,
        help="WINDOW-grain Bloom snapshot (build_window_bloom artifact) of "
        "the archive's k-token windows: adds a substr_seen_frac column to "
        "decisions/ — per-turn fraction of tokens covered by substrings "
        "already in history, scored map-side with zero shuffle",
    )
    p.add_argument(
        "--substr-bloom-out",
        default=None,
        help="write the next epoch's window snapshot (history ∪ this "
        "corpus' turn windows) here after the waves complete",
    )
    p.add_argument(
        "--substr-bloom-expected",
        type=int,
        default=None,
        help="first-epoch window-bitset sizing: expected TOTAL windows "
        "(~tokens) over the archive's growth horizon",
    )
    p.add_argument(
        "--substr-bloom-k",
        type=int,
        default=8,
        help="window width in tokens for the FIRST epoch (later epochs "
        "inherit the artifact's k_tokens)",
    )
    p.add_argument(
        "--bpe-merges",
        default=None,
        help="path to a trained BPE merge-table artifact "
        "(operators/bpe.merges_to_df parquet): adds an n_bpe_subwords "
        "column to decisions/ — per-turn model-token count under the "
        "frozen tokenizer, scored map-side with zero shuffle",
    )
    p.add_argument(
        "--bpe-train",
        type=int,
        default=None,
        help="train a BPE tokenizer of this many merges ONCE per staging "
        "(word counts: one shuffle; merge loop: driver-side on the "
        "bounded frequency table), write it to <output>/bpe_merges, and "
        "score n_bpe_subwords with it",
    )
    p.add_argument(
        "--clf-model",
        default=None,
        help="path to a trained quality-classifier artifact "
        "(operators/classifier.model_to_df parquet): adds a clf_score "
        "column to decisions/ — keep-probability under the learned "
        "model, scored map-side with zero shuffle",
    )
    p.add_argument(
        "--clf-train",
        type=int,
        default=None,
        help="distill the rule layer ONCE per staging: the frozen spec's "
        "keep labels train a hashed-n-gram logistic regression for this "
        "many epochs (one B-bounded shuffle each), written to "
        "<output>/clf_model and scored as clf_score",
    )
    p.add_argument(
        "--langid-model",
        default=None,
        help="path to a trained learned-langid artifact "
        "(operators/langid_model.langid_model_to_df parquet): adds "
        "ft_lang / ft_lang_prob columns to decisions/ — the fastText-"
        "style model's prediction next to the frozen lang column, "
        "scored map-side with zero shuffle",
    )
    p.add_argument(
        "--langid-train",
        type=int,
        default=None,
        help="distill the frozen langid heuristic ONCE per staging: its "
        "lang labels train the hashed char+word n-gram softmax for this "
        "many epochs (one bounded shuffle each), written to "
        "<output>/langid_model and scored as ft_lang / ft_lang_prob",
    )
    args = p.parse_args()

    spark = get_spark("piperider_spark.pipeline")
    res = run_pipeline(
        spark,
        args.input,
        args.output,
        n_buckets=args.buckets,
        resume=not args.no_resume,
        conv_rollup=args.conv_rollup,
        conv_min_keep_frac=args.conv_min_keep_frac,
        wave_buckets=args.wave_buckets,
        conv_dedup=args.conv_dedup,
        conv_near_dedup=args.conv_near_dedup,
        conv_near_threshold=args.conv_near_threshold,
        bloom_history=args.bloom_history,
        bloom_out=args.bloom_out,
        bloom_expected=args.bloom_expected,
        dsir_fit=args.dsir_fit,
        dsir_ratio_path=args.dsir_ratio_path,
        dsir_buckets=args.dsir_buckets,
        substr_bloom_history=args.substr_bloom_history,
        substr_bloom_out=args.substr_bloom_out,
        substr_bloom_expected=args.substr_bloom_expected,
        substr_bloom_k=args.substr_bloom_k,
        bpe_merges_path=args.bpe_merges,
        bpe_train=args.bpe_train,
        clf_model_path=args.clf_model,
        clf_train=args.clf_train,
        langid_model_path=args.langid_model,
        langid_train=args.langid_train,
    )
    print(json.dumps(res.__dict__))


if __name__ == "__main__":  # pragma: no cover
    main()
