"""End-to-end pipeline vs pure-pandas oracle.

BASELINE.json gate: keep/drop F1 >= 0.99 vs oracle labels; scrubbed text
byte-exact per turn under stable (conv_id, turn_idx) ordering.
"""

from __future__ import annotations

import pandas as pd
import pytest

from piperider_spark.datagen import generate_transcripts
from piperider_spark.oracle import oracle_labels
from piperider_spark.pipeline import build_decisions, run_pipeline

N_TURNS = 4000
SEED = 7


@pytest.fixture(scope="module")
def transcripts_pdf() -> pd.DataFrame:
    return generate_transcripts(N_TURNS, seed=SEED)


@pytest.fixture(scope="module")
def spark_result(spark, transcripts_pdf) -> pd.DataFrame:
    df = spark.createDataFrame(transcripts_pdf)
    out = build_decisions(df).select(
        "conv_id", "turn_idx", "keep", "reasons", "text_scrubbed", "lang", "ppl"
    )
    return (
        out.toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def oracle_result(transcripts_pdf) -> pd.DataFrame:
    return oracle_labels(transcripts_pdf).reset_index(drop=True)


def test_row_alignment(spark_result, oracle_result):
    assert len(spark_result) == len(oracle_result) > 0
    assert (spark_result["conv_id"].values == oracle_result["conv_id"].values).all()
    assert (spark_result["turn_idx"].values == oracle_result["turn_idx"].values).all()


def test_keep_f1(spark_result, oracle_result):
    pred = spark_result["keep"].to_numpy()
    truth = oracle_result["keep"].to_numpy()
    tp = (pred & truth).sum()
    fp = (pred & ~truth).sum()
    fn = (~pred & truth).sum()
    precision = tp / max(tp + fp, 1)
    recall = tp / max(tp + fn, 1)
    f1 = 2 * precision * recall / max(precision + recall, 1e-12)
    assert f1 >= 0.99, f"F1={f1:.4f} (tp={tp} fp={fp} fn={fn})"


def test_reasons_exact(spark_result, oracle_result):
    mism = [
        (i, list(s), list(o))
        for i, (s, o) in enumerate(zip(spark_result["reasons"], oracle_result["reasons"]))
        if list(s) != list(o)
    ]
    assert not mism, f"{len(mism)} reason mismatches; first 5: {mism[:5]}"


def test_scrub_byte_exact(spark_result, oracle_result):
    # oracle scrubs every non-null text; spark scrubs only kept rows — compare on kept
    kept = spark_result["keep"].to_numpy() & oracle_result["keep"].to_numpy()
    s = spark_result.loc[kept, "text_scrubbed"]
    o = oracle_result.loc[kept, "text_scrubbed"]
    bad = [(a, b) for a, b in zip(s, o) if a != b]
    assert not bad, f"{len(bad)} scrub mismatches; first 3: {bad[:3]}"


def test_lang_and_ppl_match(spark_result, oracle_result):
    assert (spark_result["lang"].values == oracle_result["lang"].values).all()
    import numpy as np

    assert np.allclose(spark_result["ppl"].astype(float), oracle_result["ppl"].astype(float), atol=1e-9)


def test_resume(spark, transcripts_pdf, tmp_path_factory):
    base = tmp_path_factory.mktemp("pipe")
    inp = str(base / "transcripts.parquet")
    out = str(base / "out")

    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(transcripts_pdf, preserve_index=False), inp)

    r1 = run_pipeline(spark, inp, out, n_buckets=4)
    assert r1.buckets_processed == 4 and r1.buckets_skipped == 0
    # resume: everything already done
    r2 = run_pipeline(spark, inp, out, n_buckets=4)
    assert r2.buckets_processed == 0 and r2.buckets_skipped == 4

    dec = spark.read.parquet(r1.decisions_path)
    assert dec.count() == len(transcripts_pdf)
    met = spark.read.parquet(r1.metrics_path).toPandas()
    assert met["n_turns"].sum() == len(transcripts_pdf)
    assert set(met["bucket"]) == {0, 1, 2, 3}

    # metrics are idempotent under re-processing: force-reprocess bucket 0
    # (simulating a crash after the metrics write but before the lineage
    # commit) and check nothing double-counts
    import shutil

    shutil.rmtree(r1.lineage_path)
    r3 = run_pipeline(spark, inp, out, n_buckets=4)
    assert r3.buckets_processed == 4
    met3 = spark.read.parquet(r1.metrics_path).toPandas()
    assert met3["n_turns"].sum() == len(transcripts_pdf)

    # wave filters prune at the scan: the staged input is partitioned by
    # bucket and the wave predicate must appear as a PartitionFilter
    import os

    from pyspark.sql import functions as F

    staged = os.path.join(out, "staged")
    plan = (
        spark.read.parquet(staged)
        .where(F.col("bucket").isin([0, 1]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [bucket" in plan, plan[:500]


def test_conversation_rollup(spark, transcripts_pdf, spark_result):
    """Conversation-grain keep vs a pandas oracle over the per-turn
    decisions, plus the plan shape: the rollup must never re-exchange the
    turn-grain data on (conv_id, role) — the count_distinct trap."""
    import re

    from piperider_spark.pipeline import conversation_rollup

    df = spark.createDataFrame(transcripts_pdf)
    decided = build_decisions(df)
    roll = conversation_rollup(decided, min_keep_frac=0.5)

    got = {
        r.conv_id: (r.n_turns, r.n_kept, r.n_roles, r.keep_frac, r.conv_keep)
        for r in roll.collect()
    }
    oracle = spark_result.groupby("conv_id").agg(
        n_turns=("keep", "size"), n_kept=("keep", "sum")
    )
    roles = (
        transcripts_pdf.groupby("conv_id")["role"].nunique(dropna=True).to_dict()
    )
    assert len(got) == len(oracle)
    for conv_id, row in oracle.iterrows():
        n_turns, n_kept = int(row.n_turns), int(row.n_kept)
        frac = n_kept / n_turns
        g = got[conv_id]
        assert g[:3] == (n_turns, n_kept, roles[conv_id]), (conv_id, g)
        assert abs(g[3] - frac) < 1e-6 and g[4] == (frac >= 0.5), (conv_id, g)

    plan = roll._jdf.queryExecution().executedPlan().toString()
    keys = [
        m.group(1)
        for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    ]
    assert keys, "expected at least the window exchange"
    assert all("role" not in k for k in keys), keys


def test_diff_decisions(spark, transcripts_pdf):
    """Decision diff between two rule specs: flips must be exactly the
    turns whose keep differs, classified by direction; identical runs diff
    to all-unchanged."""
    from dataclasses import replace

    from piperider_spark.profiler.compare import diff_decisions
    from piperider_spark.rules.spec import DEFAULT_SPEC

    df = spark.createDataFrame(transcripts_pdf)
    base = build_decisions(df)
    same = diff_decisions(base, build_decisions(df))
    agg = {r.status: r.n for r in same.groupBy("status").count()
           .withColumnRenamed("count", "n").collect()}
    assert agg == {"unchanged": len(transcripts_pdf)}

    # tighter length bound drops more turns -> only unchanged/now_dropped
    strict = build_decisions(df, replace(DEFAULT_SPEC, max_chars=200))
    d = diff_decisions(base, strict)
    agg = {r.status: r.n for r in d.groupBy("status").count()
           .withColumnRenamed("count", "n").collect()}
    assert set(agg) <= {"unchanged", "now_dropped"} and agg.get("now_dropped", 0) > 0
    flips = d.where(d.status == "now_dropped")
    joined = flips.join(base.select("conv_id", "turn_idx", "keep"), ["conv_id", "turn_idx"])
    assert joined.where(~joined.keep).count() == 0  # every flip was kept in base


def test_conv_rollup_resume_backfills_rollupless_lineage(spark, transcripts_pdf, tmp_path):
    """Resume contract (ADVICE r3): lineage records whether conversations/
    was produced. Resuming with conv_rollup=True over a run completed with
    conv_rollup=False must REPROCESS those buckets (else conversations/ is
    silently partial), while a plain resume still skips them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from piperider_spark.pipeline import run_pipeline

    inp = str(tmp_path / "t.parquet")
    pq.write_table(pa.Table.from_pandas(transcripts_pdf, preserve_index=False), inp)
    out = str(tmp_path / "out")
    r1 = run_pipeline(spark, inp, out, n_buckets=4, wave_buckets=2, conv_rollup=False)
    assert r1.buckets_processed == 4

    # plain resume: all four buckets skip
    r2 = run_pipeline(spark, inp, out, n_buckets=4, wave_buckets=2, conv_rollup=False)
    assert (r2.buckets_processed, r2.buckets_skipped) == (0, 4)

    # rollup-enabled resume: lineage has no conv_rollup evidence → reprocess
    r3 = run_pipeline(spark, inp, out, n_buckets=4, wave_buckets=2, conv_rollup=True)
    assert r3.buckets_processed == 4
    import os

    assert os.path.isdir(os.path.join(out, "conversations"))
    # and a second rollup-enabled resume now skips everything
    r4 = run_pipeline(spark, inp, out, n_buckets=4, wave_buckets=2, conv_rollup=True)
    assert (r4.buckets_processed, r4.buckets_skipped) == (0, 4)


def test_diff_decisions_bucketed_tables_zero_exchange(spark, transcripts_pdf):
    """Recurring-diff scale path: two runs saved via save_decisions_table
    (bucketed+sorted by conv_id, turn_idx) must diff with ZERO Exchange in
    the plan — the bucketing.py co-location contract applied to the
    compare loop (VERDICT r3 'Next round' #7)."""
    from dataclasses import replace

    from piperider_spark.profiler.compare import diff_decisions, save_decisions_table
    from piperider_spark.rules.spec import DEFAULT_SPEC

    df = spark.createDataFrame(transcripts_pdf)
    save_decisions_table(build_decisions(df), "diff_base", n_buckets=4)
    save_decisions_table(
        build_decisions(df, replace(DEFAULT_SPEC, max_chars=200)), "diff_target", n_buckets=4
    )
    try:
        d = diff_decisions("table:diff_base", "table:diff_target")
        plan = d._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:800]
        agg = {r.status: r["count"] for r in d.groupBy("status").count().collect()}
        assert set(agg) <= {"unchanged", "now_dropped"} and agg.get("now_dropped", 0) > 0
        # same totals as the path-based diff of the same two runs
        plain = diff_decisions(build_decisions(df), build_decisions(df, replace(DEFAULT_SPEC, max_chars=200)))
        plain_agg = {r.status: r["count"] for r in plain.groupBy("status").count().collect()}
        assert agg == plain_agg
    finally:
        spark.sql("DROP TABLE IF EXISTS diff_base")
        spark.sql("DROP TABLE IF EXISTS diff_target")


def test_pipeline_conv_rollup_output(spark, transcripts_pdf, tmp_path):
    """`conv_rollup=True` writes conversations/ per wave; contents must
    equal conversation_rollup over the decisions, and resume must not
    double-write (dynamic overwrite idempotence)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from piperider_spark.pipeline import conversation_rollup, run_pipeline

    inp = str(tmp_path / "t.parquet")
    pq.write_table(pa.Table.from_pandas(transcripts_pdf, preserve_index=False), inp)
    out = str(tmp_path / "out")
    run_pipeline(spark, inp, out, n_buckets=4, wave_buckets=2, conv_rollup=True)

    conv = spark.read.parquet(f"{out}/conversations")
    dec = spark.read.parquet(f"{out}/decisions")
    expect = conversation_rollup(dec)
    assert conv.count() == expect.count() == dec.select("conv_id").distinct().count()
    a = {r.conv_id: (r.n_turns, r.n_kept, r.conv_keep) for r in conv.collect()}
    b = {r.conv_id: (r.n_turns, r.n_kept, r.conv_keep) for r in expect.collect()}
    assert a == b

    # lineage wipe forces reprocess; dynamic overwrite keeps counts stable
    import shutil

    shutil.rmtree(f"{out}/lineage")
    run_pipeline(spark, inp, out, n_buckets=4, wave_buckets=2, conv_rollup=True)
    assert spark.read.parquet(f"{out}/conversations").count() == len(a)


def test_catalog_table_input(spark, transcripts_pdf, tmp_path):
    """`table:<identifier>` input reads through the session catalog — the
    seam an Iceberg deployment configures; outputs must equal the
    path-input run on the same rows, and the staging manifest must key on
    the table identifier (no abspath mangling)."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    inp = str(tmp_path / "transcripts.parquet")
    pq.write_table(pa.Table.from_pandas(transcripts_pdf, preserve_index=False), inp)

    spark.createDataFrame(transcripts_pdf).write.mode("overwrite").saveAsTable(
        "pipe_transcripts_t"
    )
    try:
        out_t = str(tmp_path / "out_table")
        out_p = str(tmp_path / "out_path")
        rt = run_pipeline(spark, "table:pipe_transcripts_t", out_t, n_buckets=2)
        rp = run_pipeline(spark, inp, out_p, n_buckets=2)
        assert rt.buckets_processed == 2

        cols = ["conv_id", "turn_idx", "keep", "text_scrubbed"]
        a = (
            spark.read.parquet(rt.decisions_path)
            .select(cols).toPandas()
            .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        )
        b = (
            spark.read.parquet(rp.decisions_path)
            .select(cols).toPandas()
            .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(a, b)

        with open(os.path.join(out_t, "staged", "_staging_meta.json")) as fh:
            meta = json.load(fh)
        assert meta["input_path"] == "table:pipe_transcripts_t"

        # resume against the table id skips everything
        r2 = run_pipeline(spark, "table:pipe_transcripts_t", out_t, n_buckets=2)
        assert r2.buckets_skipped == 2 and r2.buckets_processed == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS pipe_transcripts_t")


def test_staging_not_reused_across_inputs_or_bucketing(spark, tmp_path):
    """The staged input must be keyed on (input path, n_buckets): a run
    against a different input or bucket modulus restages instead of
    silently processing stale data; resume=False always restages."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    a = generate_transcripts(500, seed=1)
    b = generate_transcripts(900, seed=2)
    inp_a, inp_b = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    pq.write_table(pa.Table.from_pandas(a, preserve_index=False), inp_a)
    pq.write_table(pa.Table.from_pandas(b, preserve_index=False), inp_b)
    out = str(tmp_path / "out")

    run_pipeline(spark, inp_a, out, n_buckets=2)
    # different input, resume off → must process B, not stale staged A
    run_pipeline(spark, inp_b, out, n_buckets=2, resume=False)
    dec = spark.read.parquet(out + "/decisions")
    assert dec.count() == len(b)

    # different n_buckets → restage with the new modulus
    run_pipeline(spark, inp_b, out, n_buckets=4, resume=False)
    met = spark.read.parquet(out + "/metrics").toPandas()
    assert set(met["bucket"]) == {0, 1, 2, 3}
    assert met["n_turns"].sum() == len(b)


def test_resume_true_with_changed_input_reprocesses(spark, tmp_path):
    """resume=True + a manifest mismatch (changed input) must reprocess
    every bucket — stale lineage from the old input must not mark buckets
    done and return the old outputs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    a = generate_transcripts(400, seed=3)
    b = generate_transcripts(700, seed=4)
    inp_a, inp_b = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    pq.write_table(pa.Table.from_pandas(a, preserve_index=False), inp_a)
    pq.write_table(pa.Table.from_pandas(b, preserve_index=False), inp_b)
    out = str(tmp_path / "out")

    run_pipeline(spark, inp_a, out, n_buckets=2)
    r = run_pipeline(spark, inp_b, out, n_buckets=2)  # resume=True default
    assert r.buckets_processed == 2 and r.buckets_skipped == 0
    assert spark.read.parquet(out + "/decisions").count() == len(b)


def test_decisions_partition_and_batch_invariant(spark, transcripts_pdf, spark_result):
    """Every per-turn output (keep, reasons, lang, ppl, scrubbed text) must be
    byte-identical no matter how rows are partitioned or how Arrow slices
    them into UDF batches — a turn's score may depend only on that turn.

    Regression pin for the perplexity batch-composition bug: the old
    np.add.reduceat row sums were pairwise float32 over segments whose
    length shifted by one when a trailing empty/NULL row shared the batch,
    so the same text scored 1 ulp differently per partitioning.
    """
    df = spark.createDataFrame(transcripts_pdf)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    try:
        # tiny Arrow batches + a skewed repartition: maximally different
        # batch composition from the module fixture's default run
        spark.conf.set(key, "37")
        got = (
            build_decisions(df.repartition(17, "turn_idx"))
            .select("conv_id", "turn_idx", "keep", "reasons", "text_scrubbed", "lang", "ppl")
            .toPandas()
            .sort_values(["conv_id", "turn_idx"], kind="mergesort")
            .reset_index(drop=True)
        )
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    pd.testing.assert_frame_equal(got, spark_result, check_exact=True)


def test_conv_dedup_stage_and_flag_flip_resume(spark, transcripts_pdf, tmp_path):
    """conv_dedup drops exact-duplicate conversations before the rules run,
    records them in dup_convs/, and the lineage latest-row check reprocesses
    buckets whenever the flag differs from the bucket's LAST processing —
    including the on → off → on flip, where stale on-rows would otherwise
    mark buckets done against non-deduped decisions content."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = transcripts_pdf.copy()
    dup_src = sorted(pdf["conv_id"].unique())[:3]
    copies = pdf[pdf["conv_id"].isin(dup_src)].copy()
    copies["conv_id"] = copies["conv_id"] + "_copy"  # lexically after source
    both = pd.concat([pdf, copies], ignore_index=True)
    inp = str(tmp_path / "t.parquet")
    pq.write_table(pa.Table.from_pandas(both, preserve_index=False), inp)
    out = str(tmp_path / "out")

    r1 = run_pipeline(spark, inp, out, n_buckets=4, wave_buckets=2, conv_dedup=True)
    assert r1.buckets_processed == 4
    dec = spark.read.parquet(r1.decisions_path)
    got_convs = {r.conv_id for r in dec.select("conv_id").distinct().collect()}
    assert got_convs == set(pdf["conv_id"].unique())  # copies dropped, sources kept
    assert dec.count() == len(pdf)

    dup_rows = spark.read.parquet(f"{out}/dup_convs").collect()
    assert {r.conv_id for r in dup_rows} == {c + "_copy" for c in dup_src}
    assert all(r.canonical_conv_id == r.conv_id[: -len("_copy")] for r in dup_rows)
    assert all(r.group_size == 2 for r in dup_rows)

    # same flag resumes clean
    r2 = run_pipeline(spark, inp, out, n_buckets=4, wave_buckets=2, conv_dedup=True)
    assert (r2.buckets_processed, r2.buckets_skipped) == (0, 4)

    # flag off: every bucket's latest lineage row says dedup -> reprocess all
    r3 = run_pipeline(spark, inp, out, n_buckets=4, wave_buckets=2, conv_dedup=False)
    assert r3.buckets_processed == 4
    assert spark.read.parquet(r1.decisions_path).count() == len(both)

    # flip BACK on: stale dedup rows exist for every bucket, but each
    # bucket's latest row says non-dedup -> must reprocess, not skip
    r4 = run_pipeline(spark, inp, out, n_buckets=4, wave_buckets=2, conv_dedup=True)
    assert r4.buckets_processed == 4
    assert spark.read.parquet(r1.decisions_path).count() == len(pdf)


def test_conv_dedup_dup_free_corpus(spark, transcripts_pdf, tmp_path):
    """A corpus with no duplicate conversations writes a file-less sidecar;
    the explicit-schema read keeps the anti-join a no-op."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    inp = str(tmp_path / "t.parquet")
    pq.write_table(pa.Table.from_pandas(transcripts_pdf, preserve_index=False), inp)
    out = str(tmp_path / "out")
    r = run_pipeline(spark, inp, out, n_buckets=2, conv_dedup=True)
    assert r.buckets_processed == 2
    assert spark.read.parquet(r.decisions_path).count() == len(transcripts_pdf)


def test_conv_near_dedup_stage_and_mode_change(spark, transcripts_pdf, tmp_path):
    """conv_near_dedup drops near-duplicate conversations (one turn edited
    in the copy — invisible to the exact fingerprint, caught by LSH +
    components), records them with method='near', and a dedup MODE change
    (exact -> exact+near) rebuilds the sidecar and reprocesses buckets."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = transcripts_pdf.copy()
    src_conv = sorted(pdf["conv_id"].unique())[0]
    near = pdf[pdf["conv_id"] == src_conv].copy()
    near["conv_id"] = src_conv + "_near"
    # edit exactly one turn: exact dedup must NOT fire, near dedup must
    idx = near.index[0]
    near.loc[idx, "text"] = str(near.loc[idx, "text"]) + " with an extra edited tail"
    both = pd.concat([pdf, near], ignore_index=True)
    inp = str(tmp_path / "t.parquet")
    pq.write_table(pa.Table.from_pandas(both, preserve_index=False), inp)
    out = str(tmp_path / "out")

    # exact-only first: the edited copy survives
    r1 = run_pipeline(spark, inp, out, n_buckets=4, wave_buckets=4, conv_dedup=True)
    assert r1.buckets_processed == 4
    dec = spark.read.parquet(r1.decisions_path)
    convs1 = {r.conv_id for r in dec.select("conv_id").distinct().collect()}
    assert src_conv + "_near" in convs1

    # exact+near: mode changed -> sidecar rebuilt, all buckets reprocessed,
    # the near-copy is dropped and audited with method='near'
    r2 = run_pipeline(
        spark, inp, out, n_buckets=4, wave_buckets=4,
        conv_dedup=True, conv_near_dedup=True, conv_near_threshold=0.8,
    )
    assert r2.buckets_processed == 4
    dec2 = spark.read.parquet(r1.decisions_path)
    convs2 = {r.conv_id for r in dec2.select("conv_id").distinct().collect()}
    assert src_conv + "_near" not in convs2
    assert src_conv in convs2  # canonical (lexically first) survives
    assert convs2 == set(pdf["conv_id"].unique())

    dup_rows = spark.read.parquet(f"{out}/dup_convs").collect()
    near_rows = [r for r in dup_rows if r.method == "near"]
    assert {r.conv_id for r in near_rows} == {src_conv + "_near"}
    assert near_rows[0].canonical_conv_id == src_conv
    assert near_rows[0].fp is None and near_rows[0].group_size == 2

    # same mode resumes clean
    r3 = run_pipeline(
        spark, inp, out, n_buckets=4, wave_buckets=4,
        conv_dedup=True, conv_near_dedup=True, conv_near_threshold=0.8,
    )
    assert (r3.buckets_processed, r3.buckets_skipped) == (0, 4)


def test_pipeline_dsir_stage_and_mode_resume(spark, transcripts_pdf, tmp_path):
    """--dsir-fit: decisions carry a dsir_score equal to an independent
    batch computation with the same fit; same config resumes clean; turning
    DSIR off reprocesses (lineage latest-row dsir_mode check) and removes
    the column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from piperider_spark.operators import dsir

    inp = str(tmp_path / "t.parquet")
    pq.write_table(
        pa.Table.from_pandas(transcripts_pdf, preserve_index=False), inp
    )
    out = str(tmp_path / "out")
    pred = "role = 'assistant'"

    r1 = run_pipeline(
        spark, inp, out, n_buckets=4, wave_buckets=2, dsir_fit=pred, dsir_buckets=512
    )
    assert r1.buckets_processed == 4
    dec = spark.read.parquet(r1.decisions_path)
    assert "dsir_score" in dec.columns

    batch = spark.read.parquet(inp)
    ratio = dsir.fit_bucket_log_ratio(
        batch, batch.where(F.expr(pred)), n_buckets=512
    )
    arr = dsir.log_ratio_array(ratio, n_buckets=512)
    want = {
        (r.conv_id, r.turn_idx): r.s
        for r in batch.select(
            "conv_id", "turn_idx", dsir.dsir_score_col("text", arr).alias("s")
        ).collect()
    }
    got = {
        (r.conv_id, r.turn_idx): r.dsir_score
        for r in dec.select("conv_id", "turn_idx", "dsir_score").collect()
    }
    assert got == want

    # the audit sidecar holds the fitted table (<= B rows, one file)
    sidecar = spark.read.parquet(f"{out}/dsir_ratio")
    assert sidecar.count() <= 512
    assert set(sidecar.columns) == {"bucket", "log_ratio"}

    # same config resumes clean
    r2 = run_pipeline(
        spark, inp, out, n_buckets=4, wave_buckets=2, dsir_fit=pred, dsir_buckets=512
    )
    assert (r2.buckets_processed, r2.buckets_skipped) == (0, 4)

    # DSIR off: latest lineage rows say dsir was on -> reprocess all,
    # decisions drop the column
    r3 = run_pipeline(spark, inp, out, n_buckets=4, wave_buckets=2)
    assert r3.buckets_processed == 4
    assert "dsir_score" not in spark.read.parquet(r1.decisions_path).columns


def test_bloom_history_cross_run_dedup(spark, transcripts_pdf, tmp_path):
    """--bloom-history/--bloom-out: epoch 1 writes a Bloom snapshot of its
    conversation fingerprints; epoch 2 (re-delivered epoch-1 data + new
    conversations) drops every already-seen conversation map-side (method
    bloom_history, canonical NULL — the keeper lives in epoch 1's output),
    keeps the new ones, and unions its own fingerprints into the epoch-3
    snapshot in the INHERITED layout. The history identity joins the
    lineage dedup mode: same snapshot resumes clean, dropping it
    reprocesses."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from piperider_spark.operators.dedup import load_bloom

    e1 = transcripts_pdf.copy()
    inp1 = str(tmp_path / "e1.parquet")
    pq.write_table(pa.Table.from_pandas(e1, preserve_index=False), inp1)
    snap1 = str(tmp_path / "bloom1.json")
    out1 = str(tmp_path / "out1")
    # size the first-epoch layout for the horizon (both epochs fit easily)
    r1 = run_pipeline(
        spark, inp1, out1, n_buckets=4, wave_buckets=2,
        bloom_out=snap1, bloom_expected=10_000,
    )
    assert r1.buckets_processed == 4

    fresh = generate_transcripts(N_TURNS // 2, seed=SEED + 7).copy()
    fresh["conv_id"] = "ep2-" + fresh["conv_id"]
    both = pd.concat([e1, fresh], ignore_index=True)
    inp2 = str(tmp_path / "e2.parquet")
    pq.write_table(pa.Table.from_pandas(both, preserve_index=False), inp2)
    snap2 = str(tmp_path / "bloom2.json")
    out2 = str(tmp_path / "out2")

    r2 = run_pipeline(
        spark, inp2, out2, n_buckets=4, wave_buckets=2,
        bloom_history=snap1, bloom_out=snap2,
    )
    assert r2.buckets_processed == 4
    dec = spark.read.parquet(r2.decisions_path)
    # every epoch-1 conversation gated out; at bloom_expected=10k sizing the
    # per-conv false-positive odds are ~1e-9 — all new conversations survive
    assert dec.where(~F.col("conv_id").startswith("ep2-")).count() == 0
    assert {r.conv_id for r in dec.select("conv_id").distinct().collect()} == set(
        fresh["conv_id"].unique()
    )
    dups = spark.read.parquet(f"{out2}/dup_convs")
    dup_rows = dups.collect()
    assert {r.conv_id for r in dup_rows} == set(e1["conv_id"].unique())
    assert all(r.method == "bloom_history" for r in dup_rows)
    assert all(r.canonical_conv_id is None and r.group_size is None for r in dup_rows)

    # epoch-3 snapshot: inherited layout, union covers BOTH epochs' convs
    b1, b2 = load_bloom(snap1), load_bloom(snap2)
    assert (b2["m_bits"], b2["k"]) == (b1["m_bits"], b1["k"])
    from piperider_spark.operators.dedup import bloom_seen_flags

    all_convs = spark.createDataFrame(both)
    from piperider_spark.operators.dedup import conversation_text

    rolled = conversation_text(all_convs, sep="\x1e")
    assert (
        bloom_seen_flags(rolled, b2, text_col="conv_text")
        .where(~F.col("maybe_seen"))
        .count()
        == 0
    )

    # same history resumes clean; dropping it flips the mode -> reprocess
    r3 = run_pipeline(spark, inp2, out2, n_buckets=4, wave_buckets=2, bloom_history=snap1)
    assert (r3.buckets_processed, r3.buckets_skipped) == (0, 4)
    r4 = run_pipeline(spark, inp2, out2, n_buckets=4, wave_buckets=2)
    assert r4.buckets_processed == 4
    dec4 = spark.read.parquet(out2 + "/decisions")
    assert dec4.where(~F.col("conv_id").startswith("ep2-")).count() > 0


def test_pipeline_substr_bloom_stage_and_mode_resume(spark, transcripts_pdf, tmp_path):
    """--substr-bloom-history: decisions carry substr_seen_frac equal to an
    independent batch window_seen_stats with the same artifact; re-delivered
    history turns score 1.0; same config resumes clean; turning the stage
    off reprocesses (lineage latest-row substr_mode) and removes the column;
    --substr-bloom-out unions this corpus' windows into the next epoch;
    a fingerprint-grain artifact is rejected with a clear error."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from piperider_spark.datagen import write_transcripts_parquet
    from piperider_spark.operators.dedup import (
        build_fingerprint_bloom,
        build_window_bloom,
        load_bloom,
        save_bloom,
        window_seen_stats,
    )

    # epoch 1 = the archive the snapshot is built from
    hist_inp = str(tmp_path / "hist.parquet")
    write_transcripts_parquet(hist_inp, n_turns=400, seed=91)
    hist_art = str(tmp_path / "hist_windows.json")
    save_bloom(
        build_window_bloom(spark.read.parquet(hist_inp), k_tokens=5), hist_art
    )

    # epoch 2 = re-delivered epoch-1 turns + fresh ones
    inp = str(tmp_path / "t.parquet")
    both = pd.concat(
        [
            pd.read_parquet(hist_inp).head(120),
            transcripts_pdf,
        ],
        ignore_index=True,
    )
    pq.write_table(pa.Table.from_pandas(both, preserve_index=False), inp)
    out = str(tmp_path / "out")
    next_art = str(tmp_path / "next_windows.json")

    r1 = run_pipeline(
        spark,
        inp,
        out,
        n_buckets=4,
        wave_buckets=2,
        substr_bloom_history=hist_art,
        substr_bloom_out=next_art,
    )
    assert r1.buckets_processed == 4
    dec = spark.read.parquet(r1.decisions_path)
    assert "substr_seen_frac" in dec.columns

    # == independent batch probe with the same artifact
    bloom = load_bloom(hist_art)
    want = {
        (r.conv_id, r.turn_idx): r.seen_frac
        for r in window_seen_stats(spark.read.parquet(inp), bloom, k_tokens=5)
        .select("conv_id", "turn_idx", "seen_frac")
        .collect()
    }
    got = {
        (r.conv_id, r.turn_idx): r.substr_seen_frac
        for r in dec.select("conv_id", "turn_idx", "substr_seen_frac").collect()
    }
    assert got == want
    # re-delivered history turns are fully covered; fresh turns are not all
    redelivered = {
        (r.conv_id, r.turn_idx)
        for r in spark.createDataFrame(pd.read_parquet(hist_inp).head(120))
        .where(F.size(F.split(F.trim("text"), r"\s+")) >= 5)
        .select("conv_id", "turn_idx")
        .collect()
    }
    assert redelivered and all(got[key] == 1.0 for key in redelivered if key in got)
    assert any(v < 1.0 for v in got.values())

    # next epoch's snapshot covers epoch 2's own windows too
    nxt = load_bloom(next_art)
    assert nxt["grain"] == "window" and nxt["k_tokens"] == 5
    full = window_seen_stats(spark.read.parquet(inp), nxt, k_tokens=5)
    assert full.where(
        (F.col("n_tokens") >= 5) & (F.col("seen_frac") < 1.0)
    ).count() == 0

    # same config resumes clean
    r2 = run_pipeline(
        spark, inp, out, n_buckets=4, wave_buckets=2, substr_bloom_history=hist_art
    )
    assert (r2.buckets_processed, r2.buckets_skipped) == (0, 4)

    # stage off: latest lineage says it was on -> reprocess, column gone
    r3 = run_pipeline(spark, inp, out, n_buckets=4, wave_buckets=2)
    assert r3.buckets_processed == 4
    assert "substr_seen_frac" not in spark.read.parquet(r1.decisions_path).columns

    # fingerprint-grain artifact rejected up front
    fp_art = str(tmp_path / "fp.json")
    save_bloom(build_fingerprint_bloom(spark.read.parquet(hist_inp)), fp_art)
    with pytest.raises(ValueError, match="window-grain"):
        run_pipeline(
            spark, inp, out, n_buckets=4, substr_bloom_history=fp_art
        )


def test_pipeline_bpe_stage_and_mode_resume(spark, transcripts_pdf, tmp_path):
    """--bpe-train: decisions carry an n_bpe_subwords equal to an
    independent batch fit+encode over the same corpus; the merge-table
    sidecar is the shippable artifact and --bpe-merges over it scores
    identically; same config resumes clean; dropping the stage reprocesses
    and removes the column (lineage latest-row bpe_mode basis)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from piperider_spark.operators import bpe

    inp = str(tmp_path / "t.parquet")
    pq.write_table(
        pa.Table.from_pandas(transcripts_pdf, preserve_index=False), inp
    )
    out = str(tmp_path / "out")

    r1 = run_pipeline(spark, inp, out, n_buckets=4, wave_buckets=2, bpe_train=48)
    assert r1.buckets_processed == 4
    dec = spark.read.parquet(r1.decisions_path)
    assert "n_bpe_subwords" in dec.columns

    batch = spark.read.parquet(inp)
    merges = bpe.train_bpe(
        bpe.bpe_word_counts(batch, "text", min_count=2, top_words=50_000),
        n_merges=48,
    )
    assert merges
    want = {
        (r.conv_id, r.turn_idx): r.n_bpe_subwords
        for r in bpe.apply_bpe(batch, merges)
        .select("conv_id", "turn_idx", "n_bpe_subwords")
        .collect()
    }
    got = {
        (r.conv_id, r.turn_idx): r.n_bpe_subwords
        for r in dec.select("conv_id", "turn_idx", "n_bpe_subwords").collect()
    }
    assert got == {k: int(v) for k, v in want.items()}

    # the sidecar artifact round-trips to the exact merge list
    assert bpe.load_merges(spark, f"{out}/bpe_merges") == merges

    # same config resumes clean (artifact reused via the mode manifest)
    r2 = run_pipeline(spark, inp, out, n_buckets=4, wave_buckets=2, bpe_train=48)
    assert (r2.buckets_processed, r2.buckets_skipped) == (0, 4)

    # switching to path mode over the SAME artifact: mode string changes ->
    # reprocess (counts must not be assumed equal across modes), values
    # identical because the tokenizer is identical
    r3 = run_pipeline(
        spark,
        inp,
        out,
        n_buckets=4,
        wave_buckets=2,
        bpe_merges_path=f"{out}/bpe_merges",
    )
    assert r3.buckets_processed == 4
    got3 = {
        (r.conv_id, r.turn_idx): r.n_bpe_subwords
        for r in spark.read.parquet(r1.decisions_path)
        .select("conv_id", "turn_idx", "n_bpe_subwords")
        .collect()
    }
    assert got3 == got

    # stage off: latest lineage rows say BPE was on -> reprocess all,
    # decisions drop the column
    r4 = run_pipeline(spark, inp, out, n_buckets=4, wave_buckets=2)
    assert r4.buckets_processed == 4
    assert "n_bpe_subwords" not in spark.read.parquet(r1.decisions_path).columns


def test_pack_kept_turns_on_bpe_token_budget(spark, transcripts_pdf, tmp_path):
    """The training-data chain end-to-end: quality decisions -> model-token
    counts under a learned tokenizer -> concat-then-chunk packing on that
    budget. Kept turns packed on n_bpe_subwords tile [0, total) exactly,
    and the assignment is deterministic across partitionings (the packing
    order key is (bucket, id), both pure functions of the id)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from piperider_spark.operators import bpe
    from piperider_spark.operators.packing import concat_chunk_pack
    from piperider_spark.pipeline import build_decisions

    inp = str(tmp_path / "t.parquet")
    pq.write_table(
        pa.Table.from_pandas(transcripts_pdf, preserve_index=False), inp
    )
    batch = spark.read.parquet(inp)
    merges = bpe.train_bpe(
        bpe.bpe_word_counts(batch, "text", min_count=2, top_words=50_000),
        n_merges=48,
    )
    kept = (
        build_decisions(
            batch.withColumn(
                "n_bpe_subwords", bpe.bpe_subword_count_col(merges, "text")
            )
        )
        .where(F.col("keep") & (F.col("n_bpe_subwords") > 0))
        .select(
            F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias(
                "turn_id"
            ),
            "n_bpe_subwords",
        )
    )
    out = concat_chunk_pack(kept, "turn_id", "n_bpe_subwords", max_len=256).collect()
    assert out, "no kept turns with a positive token budget"
    spans = sorted((r.start_offset, r.start_offset + r.len) for r in out)
    assert spans[0][0] == 0
    for (_, e0), (s1, _) in zip(spans, spans[1:]):
        assert s1 == e0  # contiguous tiling, no gaps or overlaps
    assert spans[-1][1] == sum(r.len for r in out)
    got = {(r.id, r.start_offset, r.first_chunk, r.last_chunk) for r in out}
    rep = {
        (r.id, r.start_offset, r.first_chunk, r.last_chunk)
        for r in concat_chunk_pack(
            kept.repartition(7), "turn_id", "n_bpe_subwords", max_len=256
        ).collect()
    }
    assert rep == got


def test_pipeline_clf_stage_and_mode_resume(spark, transcripts_pdf, tmp_path):
    """--clf-train: decisions carry a clf_score equal to an independent
    batch distillation (same labels, same trainer — exact equality, the
    decimal-gradient determinism contract); the model sidecar loads back;
    same config resumes clean; dropping the stage reprocesses and removes
    the column (lineage latest-row clf_mode basis)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from piperider_spark.operators import classifier as C
    from piperider_spark.pipeline import build_decisions

    inp = str(tmp_path / "t.parquet")
    pq.write_table(
        pa.Table.from_pandas(transcripts_pdf, preserve_index=False), inp
    )
    out = str(tmp_path / "out")

    r1 = run_pipeline(spark, inp, out, n_buckets=4, wave_buckets=2, clf_train=2)
    assert r1.buckets_processed == 4
    dec = spark.read.parquet(r1.decisions_path)
    assert "clf_score" in dec.columns

    batch = spark.read.parquet(inp)
    model = C.fit_quality_classifier(
        build_decisions(batch).select("text", "keep"), epochs=2
    )
    want = {
        (r.conv_id, r.turn_idx): r.s
        for r in batch.select(
            "conv_id", "turn_idx", C.classifier_score_col("text", model).alias("s")
        ).collect()
    }
    got = {
        (r.conv_id, r.turn_idx): r.clf_score
        for r in dec.select("conv_id", "turn_idx", "clf_score").collect()
    }
    assert got == want

    # the sidecar artifact round-trips to the same model
    m2 = C.model_from_df(spark.read.parquet(f"{out}/clf_model"))
    assert m2["weights"] == model["weights"] and m2["bias"] == model["bias"]

    # learned scores track the rule labels they distilled (sanity: mean
    # score of kept turns exceeds dropped)
    kept_mean, drop_mean = (
        dec.groupBy()
        .agg(
            F.avg(F.when(F.col("keep"), F.col("clf_score"))).alias("k"),
            F.avg(F.when(~F.col("keep"), F.col("clf_score"))).alias("d"),
        )
        .first()
    )
    assert kept_mean > drop_mean

    # same config resumes clean
    r2 = run_pipeline(spark, inp, out, n_buckets=4, wave_buckets=2, clf_train=2)
    assert (r2.buckets_processed, r2.buckets_skipped) == (0, 4)

    # stage off: reprocess, column gone
    r3 = run_pipeline(spark, inp, out, n_buckets=4, wave_buckets=2)
    assert r3.buckets_processed == 4
    assert "clf_score" not in spark.read.parquet(r1.decisions_path).columns


def test_pipeline_langid_stage_and_mode_resume(spark, transcripts_pdf, tmp_path):
    """--langid-train: decisions carry ft_lang / ft_lang_prob equal to an
    independent batch distillation (same teacher labels, same trainer —
    exact equality, the decimal-gradient determinism contract); the frozen
    `lang` column is untouched; the model sidecar loads back; same config
    resumes clean; dropping the stage reprocesses and removes the columns
    (lineage latest-row langid_mode basis)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from piperider_spark.operators import langid_model as L
    from piperider_spark.pipeline import build_decisions

    inp = str(tmp_path / "t.parquet")
    pq.write_table(
        pa.Table.from_pandas(transcripts_pdf, preserve_index=False), inp
    )
    out = str(tmp_path / "out")

    r1 = run_pipeline(spark, inp, out, n_buckets=4, wave_buckets=2, langid_train=2)
    assert r1.buckets_processed == 4
    dec = spark.read.parquet(r1.decisions_path)
    assert {"ft_lang", "ft_lang_prob", "lang"} <= set(dec.columns)

    batch = spark.read.parquet(inp)
    model = L.fit_langid_model(
        build_decisions(batch).select("text", "lang"), label_col="lang", epochs=2
    )
    want = {
        (r.conv_id, r.turn_idx): (r.ft_lang, r.ft_lang_prob)
        for r in L.langid_scored(batch, model, "text")
        .select("conv_id", "turn_idx", "ft_lang", "ft_lang_prob")
        .collect()
    }
    got = {
        (r.conv_id, r.turn_idx): (r.ft_lang, r.ft_lang_prob)
        for r in dec.select("conv_id", "turn_idx", "ft_lang", "ft_lang_prob").collect()
    }
    assert got == want

    # the frozen lang column is byte-identical to a stage-less run: the
    # learned model rides NEXT to the contract, never inside it
    frozen = {
        (r.conv_id, r.turn_idx): r.lang
        for r in build_decisions(batch).select("conv_id", "turn_idx", "lang").collect()
    }
    inline = {
        (r.conv_id, r.turn_idx): r.lang
        for r in dec.select("conv_id", "turn_idx", "lang").collect()
    }
    assert inline == frozen

    # the sidecar artifact round-trips to the same model
    m2 = L.langid_model_from_df(spark.read.parquet(f"{out}/langid_model"))
    assert m2["classes"] == model["classes"]
    assert m2["weights"] == model["weights"] and m2["bias"] == model["bias"]

    # same config resumes clean
    r2 = run_pipeline(spark, inp, out, n_buckets=4, wave_buckets=2, langid_train=2)
    assert (r2.buckets_processed, r2.buckets_skipped) == (0, 4)

    # stage off: reprocess, columns gone
    r3 = run_pipeline(spark, inp, out, n_buckets=4, wave_buckets=2)
    assert r3.buckets_processed == 4
    cols = set(spark.read.parquet(r1.decisions_path).columns)
    assert "ft_lang" not in cols and "ft_lang_prob" not in cols


def _write_pdf(pdf, path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)


def test_restage_purges_trained_sidecars(spark, tmp_path):
    """Review finding: the restage purge cleared dsir_ratio but not the
    bpe/clf/langid sidecars, so a new input silently reused artifacts
    trained on the OLD corpus. After an input change the BPE artifact must
    equal an independent fit on the new corpus."""
    from piperider_spark.operators import bpe as _bpe

    a = generate_transcripts(600, seed=31)
    b = generate_transcripts(600, seed=32)
    inp_a, inp_b = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    _write_pdf(a, inp_a)
    _write_pdf(b, inp_b)
    out = str(tmp_path / "out")

    run_pipeline(spark, inp_a, out, n_buckets=2, bpe_train=25)
    merges_a = _bpe.load_merges(spark, out + "/bpe_merges")
    run_pipeline(spark, inp_b, out, n_buckets=2, bpe_train=25)
    merges_b = _bpe.load_merges(spark, out + "/bpe_merges")

    want_b = _bpe.train_bpe(
        _bpe.bpe_word_counts(
            spark.createDataFrame(b), "text", min_count=2, top_words=50_000
        ),
        n_merges=25,
    )
    assert merges_b == want_b
    assert merges_a != merges_b  # different corpora -> different fits


def test_mode_flip_reprocess_purges_stale_partitions(spark, tmp_path):
    """Review finding: dynamic partition overwrite writes nothing for a
    bucket whose reprocess yields ZERO rows, leaving the previous
    processing's rows behind. A bloom-history flip that gates EVERY
    conversation must leave decisions/ empty."""
    from piperider_spark.operators.dedup import (
        build_fingerprint_bloom,
        conversation_text,
        save_bloom,
    )

    pdf = generate_transcripts(400, seed=33)
    inp = str(tmp_path / "t.parquet")
    _write_pdf(pdf, inp)
    out = str(tmp_path / "out")

    run_pipeline(spark, inp, out, n_buckets=2)
    n1 = spark.read.parquet(out + "/decisions").count()
    assert n1 == len(pdf)

    # snapshot containing EVERY conversation of this corpus
    snap = str(tmp_path / "hist.bloom")
    bloom = build_fingerprint_bloom(
        conversation_text(spark.createDataFrame(pdf), sep="\x1e"),
        text_col="conv_text",
        expected=1000,
    )
    save_bloom(bloom, snap)

    r2 = run_pipeline(spark, inp, out, n_buckets=2, bloom_history=snap)
    assert r2.buckets_processed == 2  # mode flip reprocesses
    import glob

    files = glob.glob(out + "/decisions/bucket=*/*.parquet")
    assert files == [], f"stale partitions survived: {files}"


def test_spec_change_invalidates_resume(spark, tmp_path):
    """Review finding: lineage tracked every mode knob but not the
    RuleSpec itself — resuming with changed thresholds served decisions
    computed under the old policy."""
    from piperider_spark.rules.spec import RuleSpec

    pdf = generate_transcripts(400, seed=34)
    inp = str(tmp_path / "t.parquet")
    _write_pdf(pdf, inp)
    out = str(tmp_path / "out")

    r1 = run_pipeline(spark, inp, out, n_buckets=2)
    assert r1.buckets_processed == 2
    # same spec resumes
    r2 = run_pipeline(spark, inp, out, n_buckets=2)
    assert r2.buckets_skipped == 2
    # changed thresholds reprocess, and the output reflects them
    tight = RuleSpec(max_chars=40)
    r3 = run_pipeline(spark, inp, out, n_buckets=2, spec=tight)
    assert r3.buckets_processed == 2
    dec = spark.read.parquet(out + "/decisions")
    import pyspark.sql.functions as SF

    long_kept = dec.where(
        SF.length("text_scrubbed") > 40
    ).count()
    assert long_kept == 0  # every kept row obeys the NEW bound
    # and the rollup threshold binds resume only when the rollup runs
    r4 = run_pipeline(spark, inp, out, n_buckets=2, spec=tight)
    assert r4.buckets_skipped == 2


def test_artifact_key_tracks_content(tmp_path):
    """Review finding: artifact identity was the PATH, so an in-place
    updated snapshot did not invalidate resume. The key must change when
    the file content/mtime changes and when a dir listing changes."""
    import time as _t

    from piperider_spark.pipeline import _artifact_key

    f = tmp_path / "model.bin"
    f.write_bytes(b"epoch1")
    k1 = _artifact_key(str(f))
    _t.sleep(0.01)
    f.write_bytes(b"epoch2!")  # different size + mtime
    assert _artifact_key(str(f)) != k1

    d = tmp_path / "artifact"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"aaa")
    kd1 = _artifact_key(str(d))
    (d / "part-1.parquet").write_bytes(b"bbb")
    assert _artifact_key(str(d)) != kd1


def test_wave_one_pass_outputs_and_lineage(spark, transcripts_pdf, tmp_path):
    """Each wave runs its plan once with no cache, derives metrics/ from the
    partitions it wrote, and writes its lineage rows as one file. Lineage
    written by the previous writer (a list through createDataFrame, four
    files per wave) still reads together with the new files on resume."""
    import glob

    import pyarrow.parquet as pq

    from piperider_spark.pipeline import LINEAGE_SCHEMA
    from piperider_spark.rules.spec import DEFAULT_SPEC

    inp = str(tmp_path / "t.parquet")
    _write_pdf(transcripts_pdf, inp)
    out = str(tmp_path / "out")
    jsc = spark.sparkContext._jsc

    def persisted() -> set[int]:
        return {int(k) for k in jsc.getPersistentRDDs().keySet()}

    before = persisted()
    r1 = run_pipeline(spark, inp, out, n_buckets=4, wave_buckets=2, conv_rollup=True)
    assert r1.buckets_processed == 4
    assert persisted() == before, "a wave left an RDD persisted"

    # one lineage file per wave
    assert len(glob.glob(out + "/lineage/*.parquet")) == 2

    # n_<reason> counts exactly the reasons recorded in decisions/
    dec = spark.read.parquet(r1.decisions_path).select("bucket", "reasons").toPandas()
    met = spark.read.parquet(r1.metrics_path).toPandas().set_index("bucket")
    assert met["n_turns"].sum() == len(transcripts_pdf)
    for b, rows in dec.groupby("bucket"):
        for name in DEFAULT_SPEC.reason_order:
            want = sum(name in list(r) for r in rows["reasons"])
            assert met.loc[b, f"n_{name}"] == want, (b, name)
    assert met[[f"n_{n}" for n in DEFAULT_SPEC.reason_order]].to_numpy().sum() > 0

    # lineage from the old writer, appended next to the new files: same
    # parquet schema, and a resume still skips every bucket
    old_rows = [tuple(r) for r in spark.read.parquet(r1.lineage_path).collect()]
    spark.createDataFrame(old_rows, LINEAGE_SCHEMA).write.mode("append").parquet(
        r1.lineage_path
    )
    files = glob.glob(out + "/lineage/*.parquet")
    assert len(files) > 2
    schemas = {pq.read_schema(f).remove_metadata().to_string() for f in files}
    assert len(schemas) == 1
    r2 = run_pipeline(spark, inp, out, n_buckets=4, wave_buckets=2, conv_rollup=True)
    assert r2.buckets_processed == 0 and r2.buckets_skipped == 4


def test_mistyped_artifact_path_is_a_value_error(spark, tmp_path):
    """A missing artifact path names itself in a ValueError instead of
    surfacing os.stat's FileNotFoundError."""
    from piperider_spark.pipeline import _artifact_key

    missing = str(tmp_path / "dsir_ratoi")
    with pytest.raises(ValueError, match="dsir_ratoi"):
        _artifact_key(missing)

    inp = str(tmp_path / "t.parquet")
    _write_pdf(generate_transcripts(200, seed=35), inp)
    with pytest.raises(ValueError, match="dsir_ratoi"):
        run_pipeline(spark, inp, str(tmp_path / "out"), n_buckets=2, dsir_ratio_path=missing)


def _frame(path: str, drop: tuple[str, ...] = ()) -> pd.DataFrame:
    """A parquet output as a sorted pandas frame, for equality checks."""
    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas()
    t = t.drop(columns=list(drop)).astype(str)
    return t.sort_values(list(t.columns)).reset_index(drop=True)


def test_wave_writer_jobs_keep_the_callers_job_group(spark, transcripts_pdf, tmp_path):
    """Every job run_pipeline starts, including those of the background
    wave writer, runs under the caller's job group."""
    inp = str(tmp_path / "t.parquet")
    _write_pdf(transcripts_pdf, inp)
    sc = spark.sparkContext
    st = sc.statusTracker()

    def marker(group: str) -> int:
        sc.setJobGroup(group, group)
        sc.parallelize([1]).count()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return max(st.getJobIdsForGroup(group))

    first = marker("before-writer-test")
    sc.setJobGroup("g", "wave writer job group")
    try:
        r = run_pipeline(
            spark, inp, str(tmp_path / "out"), n_buckets=4, wave_buckets=2,
            conv_rollup=True,
        )
    finally:
        last = marker("after-writer-test")
        sc.setJobGroup("", "")
    assert r.buckets_processed == 4
    started = set(range(first + 1, last))
    assert started and set(st.getJobIdsForGroup("g")) == started


def test_wave_writer_failure_settles_and_resumes(spark, transcripts_pdf, tmp_path, monkeypatch):
    """A failing background aggregate write surfaces from run_pipeline only
    after the wave the main thread has in flight is written, commits no
    lineage for its wave, leaves no writer thread behind, and a resume
    produces the outputs of an uninterrupted run."""
    import os
    import threading

    from piperider_spark import pipeline

    inp = str(tmp_path / "t.parquet")
    _write_pdf(transcripts_pdf, inp)
    out = str(tmp_path / "out")

    def failing(*args, **kwargs):
        raise RuntimeError("injected rollup failure")

    monkeypatch.setattr(pipeline, "conversation_rollup", failing)
    threads = threading.active_count()
    kw = dict(n_buckets=4, wave_buckets=2, conv_rollup=True)
    with pytest.raises(RuntimeError, match="injected rollup failure"):
        run_pipeline(spark, inp, out, **kw)
    assert threading.active_count() == threads
    # the second wave's decisions write finished before the error surfaced
    assert all(os.path.isdir(f"{out}/decisions/bucket={b}") for b in range(4))
    lineage = out + "/lineage"
    committed = (
        {r.bucket for r in spark.read.parquet(lineage).collect()}
        if os.path.isdir(lineage)
        else set()
    )
    assert not committed & {0, 1}, committed

    monkeypatch.undo()
    resumed = run_pipeline(spark, inp, out, **kw)
    assert resumed.buckets_processed == 4
    ref = str(tmp_path / "ref")
    run_pipeline(spark, inp, ref, **kw)
    for sub, drop in (("decisions", ()), ("metrics", ("run_id",)), ("conversations", ())):
        pd.testing.assert_frame_equal(
            _frame(f"{out}/{sub}", drop), _frame(f"{ref}/{sub}", drop), obj=sub
        )


def test_exact_dedup_sidecar_matches_groupby_join_and_scans_once(spark, transcripts_pdf, tmp_path):
    """The exact-dedup sidecar's window aggregates give the rows of the
    groupBy(fp) + join-back form, and its executed plan scans staged/ once
    (the join form scans it, and rolls conversations up, twice)."""
    import re

    from pyspark.sql import functions as F

    from piperider_spark.functions.text import fingerprint
    from piperider_spark.operators.dedup import conversation_text

    pdf = transcripts_pdf
    src_ids = sorted(pdf["conv_id"].unique())[:3]
    clones = [
        pdf[pdf["conv_id"] == c].assign(conv_id=f"{c}_copy{k}")
        for i, c in enumerate(src_ids)
        for k in range(i + 1)  # groups of 2, 3 and 4
    ]
    inp = str(tmp_path / "t.parquet")
    _write_pdf(pd.concat([pdf, *clones], ignore_index=True), inp)
    out = str(tmp_path / "out")
    run_pipeline(spark, inp, out, n_buckets=4, conv_dedup=True)

    convs = conversation_text(spark.read.parquet(out + "/staged"), sep="\x1e").select(
        "conv_id", fingerprint("conv_text").alias("fp")
    )
    stats = convs.groupBy("fp").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.min("conv_id").alias("canonical_conv_id"),
    )
    cols = ["conv_id", "canonical_conv_id", "fp", "group_size", "method"]
    want = (
        convs.join(stats, "fp")
        .where((F.col("group_size") > 1) & (F.col("conv_id") != F.col("canonical_conv_id")))
        .select("conv_id", "canonical_conv_id", "fp", "group_size", F.lit("exact").alias("method"))
        .toPandas()
    )
    got = spark.read.parquet(out + "/dup_convs").select(*cols).toPandas()
    assert len(got) == 6
    pd.testing.assert_frame_equal(
        got.sort_values("conv_id").reset_index(drop=True),
        want[cols].sort_values("conv_id").reset_index(drop=True),
    )

    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    target = f"Arguments: file:{out}/dup_convs,"
    plans = []
    executions = store.executionsList().iterator()
    while executions.hasNext():
        plan = executions.next().physicalPlanDescription()
        if target in plan:
            plans.append(plan)
    assert len(plans) == 1
    plan = plans[0]
    final = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    details = {
        b.split(")", 1)[0][1:]: b
        for b in (b.strip() for b in plan.split("\n\n"))
        if b.startswith("(")
    }
    staged_scans = [
        i
        for i in re.findall(r"Scan parquet\s+\((\d+)\)", final)
        if f"{out}/staged]" in details[i]
    ]
    assert len(staged_scans) == 1, final


def test_distillation_fits_share_one_labels_pass(spark, tmp_path, monkeypatch):
    """With both clf_train and langid_train, the rule labels both fits
    distill come from ONE build_decisions pass over staged/, persisted
    only while the fits run."""
    from piperider_spark import pipeline

    inp = str(tmp_path / "t.parquet")
    _write_pdf(generate_transcripts(600, seed=36), inp)
    calls = []
    real = pipeline.build_decisions

    def counting(df, *args, **kwargs):
        calls.append(df)
        return real(df, *args, **kwargs)

    monkeypatch.setattr(pipeline, "build_decisions", counting)
    jsc = spark.sparkContext._jsc

    def persisted() -> set[int]:
        return {int(k) for k in jsc.getPersistentRDDs().keySet()}

    before = persisted()
    r = run_pipeline(
        spark, inp, str(tmp_path / "out"), n_buckets=2, wave_buckets=2,
        clf_train=1, langid_train=1,
    )
    assert r.buckets_processed == 2
    # one labels pass before the waves, then one per wave (here: one wave)
    assert len(calls) == 2, len(calls)
    assert persisted() == before, "the distillation labels stayed persisted"
    cols = set(spark.read.parquet(r.decisions_path).columns)
    assert {"clf_score", "ft_lang", "ft_lang_prob"} <= cols


def test_wave_buckets_below_one_is_a_value_error(tmp_path):
    """wave_buckets < 1 is rejected by name before anything is staged (no
    session is even touched), like n_buckets."""
    out = tmp_path / "out"
    for bad in (0, -3):
        with pytest.raises(ValueError, match=f"wave_buckets must be >= 1, got {bad}"):
            run_pipeline(None, str(tmp_path / "missing.parquet"), str(out), wave_buckets=bad)
    assert not out.exists()


def test_cli_filter_accepts_the_pipeline_flags(spark, tmp_path):
    """`cli filter` takes the flags of `python -m piperider_spark.pipeline`
    (one declaration), so it can turn on dedup and the rollup."""
    import os

    from piperider_spark.cli import main as cli_main

    pdf = generate_transcripts(600, seed=38)
    src_conv = sorted(pdf["conv_id"].unique())[0]
    clone = pdf[pdf["conv_id"] == src_conv].assign(conv_id=src_conv + "_copy")
    inp = str(tmp_path / "t.parquet")
    _write_pdf(pd.concat([pdf, clone], ignore_index=True), inp)
    out = str(tmp_path / "out")
    rc = cli_main(
        ["filter", "--input", inp, "--output", out, "--buckets", "2",
         "--conv-dedup", "--conv-rollup"]
    )
    assert rc == 0
    assert os.path.isdir(f"{out}/conversations") and os.path.isdir(f"{out}/dup_convs")
    dups = spark.read.parquet(f"{out}/dup_convs").select("conv_id", "canonical_conv_id").collect()
    assert (src_conv + "_copy", src_conv) in [tuple(r) for r in dups]
    met = spark.read.parquet(f"{out}/metrics").toPandas()
    assert set(met["bucket"]) == {0, 1}


def test_legacy_lineage_resumes_under_default_modes(spark, tmp_path):
    """Lineage written before the mode, spec and threshold columns existed
    (run_id, bucket, elapsed_ms, conv_rollup, ts and the boolean
    conv_dedup) resumes as what it was produced under: the flag as exact
    dedup, DEFAULT_SPEC's digest, and every stage mode "none" (a stage
    turned on reprocesses; bpe stands in for any stage, as the dsir stage
    takes minutes even on this input)."""
    import pyarrow.parquet as pq

    inp = str(tmp_path / "t.parquet")
    _write_pdf(generate_transcripts(600, seed=37), inp)
    out = str(tmp_path / "out")
    r1 = run_pipeline(spark, inp, out, n_buckets=4, wave_buckets=2)
    assert r1.buckets_processed == 4
    legacy = (
        pq.read_table(r1.lineage_path)
        .select(["run_id", "bucket", "elapsed_ms", "conv_rollup", "ts"])
        .to_pandas()
        .assign(conv_dedup=True)
    )

    def rewrite_legacy() -> None:
        # through Spark, as the old writer did: an outside rewrite would
        # leave the session's cached listing of lineage/ stale
        spark.createDataFrame(legacy).write.mode("overwrite").parquet(r1.lineage_path)

    rewrite_legacy()
    r2 = run_pipeline(spark, inp, out, n_buckets=4, wave_buckets=2, conv_dedup=True)
    assert (r2.buckets_processed, r2.buckets_skipped) == (0, 4)
    rewrite_legacy()
    r3 = run_pipeline(spark, inp, out, n_buckets=4, wave_buckets=2)
    assert (r3.buckets_processed, r3.buckets_skipped) == (4, 0)
    rewrite_legacy()
    r4 = run_pipeline(spark, inp, out, n_buckets=4, wave_buckets=2, conv_dedup=True, bpe_train=8)
    assert (r4.buckets_processed, r4.buckets_skipped) == (4, 0)


def test_resume_reads_lineage_or_says_why_not(spark, transcripts_pdf, tmp_path):
    """A lineage/ with no parquet file means nothing is done; one whose
    parquet cannot be read stops the run with an error naming it and
    pointing at --no-resume, instead of silently reprocessing."""
    import os

    inp = str(tmp_path / "t.parquet")
    _write_pdf(transcripts_pdf.head(600), inp)
    out = str(tmp_path / "out")
    lineage = os.path.join(out, "lineage")
    os.makedirs(lineage)
    r = run_pipeline(spark, inp, out, n_buckets=2)
    assert r.buckets_processed == 2 and r.buckets_skipped == 0

    with open(os.path.join(lineage, "part-00000-garbage.parquet"), "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(RuntimeError, match="--no-resume") as err:
        run_pipeline(spark, inp, out, n_buckets=2)
    assert lineage in str(err.value)
