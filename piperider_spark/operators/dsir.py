"""DSIR-style hashed n-gram importance resampling (Xie et al. 2023,
arXiv:2302.03169 — "Data Selection for Language Models via Importance
Resampling"): select raw pretraining documents distributed like a small
target corpus by (1) featurizing text as hashed n-gram bucket counts,
(2) fitting bag-of-hashed-ngrams models for target and raw, (3) scoring
every raw doc with the importance log-ratio, (4) resampling without
replacement via Gumbel-top-k.

Reference parity: the reference (piperider) has no data-selection
operator — DSIR belongs to the training-data operator family this repo
adds beyond the reference (like MinHash dedup and SemDeDup), and it is
the canonical published *quality-filter* selection method.

Spark shape / the 100 TB story:
* featurization (tokens → uni+bigrams → md5 mod B) is one row-local
  projection — no shuffle, no Python;
* fitting is one partial-agg ``groupBy(bucket)`` per corpus whose output
  is bounded by B (10^4-10^5 rows — always broadcastable), plus a
  single-row totals aggregate;
* scoring is explode → **broadcast** join against the B-row log-ratio
  table → per-doc partial-agg sum (ONE shuffle, on the doc id);
* resampling is a deterministic seeded Gumbel perturbation +
  TakeOrderedAndProject — top-k without a global sort.

Determinism / oracle portability: hashing is :func:`~piperider_spark.
functions.text.md5_60bit` (bit-identical in DuckDB), the uniform for the
Gumbel noise is ``(h+1) / (2^60+2)`` in double (identical IEEE rounding
in both engines), and every ``ln`` output is quantized to 9 dp before
summation so libm 1-ulp differences between the JVM and DuckDB cannot
reach the 6 dp the gate compares.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from piperider_spark.functions.text import md5_60bit, token_windows, tokens
from piperider_spark.operators.similarity import arr_lit

# (h + 1) / _U_DENOM maps the 60-bit md5 hash onto a uniform in (0, 1).
# 2^60 + 2 is not representable in double; both engines round the literal
# to 2^60 identically, which is the point — one shared constant.
_U_DENOM = float(2**60 + 2)


def ngram_buckets(
    text: Column | str, n_buckets: int = 4096, hash_fn: str = "md5"
) -> Column:
    """Hashed uni+bigram bucket ids (``array<long>``, one entry per n-gram
    occurrence — counts matter to DSIR, so no dedup). Row-local.

    ``hash_fn``: ``md5`` is the portable oracle path (bit-identical in
    DuckDB); ``xxhash64`` is the JVM-native engine path — no md5-hex +
    conv() string math per gram, ~4× faster featurize (the same twin
    pattern as dedup.minhash_signatures)."""
    toks = tokens(F.lower(text if isinstance(text, Column) else F.col(text)))
    bigrams = F.when(F.size(toks) >= 2, token_windows(toks, 2)).otherwise(
        F.array().cast("array<string>")
    )
    grams = F.concat(toks, bigrams)
    if hash_fn == "xxhash64":
        return F.transform(grams, lambda g: F.pmod(F.xxhash64(g), F.lit(n_buckets)))
    return F.transform(grams, lambda g: F.pmod(md5_60bit(g), F.lit(n_buckets)))


def fit_bucket_log_ratio(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    n_buckets: int = 4096,
    alpha: float = 1.0,
    hash_fn: str = "md5",
) -> DataFrame:
    """Fit the importance log-ratio per hashed bucket:
    ``ln p_target(b) - ln p_raw(b)`` with add-``alpha`` smoothing.

    Two bounded aggregations (≤ ``n_buckets`` rows each), full-outer
    joined so buckets seen in only one corpus still get their smoothed
    mass; totals ride a broadcast single-row cross join — no collect.
    Returns ``(bucket, log_ratio)`` with log_ratio quantized to 9 dp.
    """

    def counts(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(
                F.explode(ngram_buckets(text_col, n_buckets, hash_fn)).alias("bucket")
            )
            .groupBy("bucket")
            .agg(F.count("*").alias(name))
        )

    joined = (
        counts(target, "ct")
        .join(counts(raw, "cr"), "bucket", "full_outer")
        .fillna(0, ["ct", "cr"])
    )
    return _log_ratio_projection(joined, alpha, n_buckets)



def _log_ratio_projection(counts: DataFrame, alpha: float, n_buckets: int) -> DataFrame:
    """Shared add-α-smoothed log-ratio over a (bucket, ct, cr) counts frame
    — the single source for BOTH the two-corpus fit and the single-
    featurize fit+score path (their pinned equality depends on this being
    one block of code, incl. the 9-dp quantization)."""
    totals = counts.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
    b = float(n_buckets)
    return counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.round(
            F.log((F.col("ct") + alpha) / (F.col("tt") + alpha * b))
            - F.log((F.col("cr") + alpha) / (F.col("tr") + alpha * b)),
            9,
        ).alias("log_ratio"),
    )


def dsir_scores(
    df: DataFrame,
    log_ratio: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    hash_fn: str = "md5",
) -> DataFrame:
    """Importance score per document: sum of its n-gram occurrences'
    bucket log-ratios (docs with no n-grams score 0.0, per the paper's
    empty-feature convention). Explode → broadcast join (≤ n_buckets
    rows) → partial-agg sum; the only shuffle keys on the doc id."""
    ex = df.select(
        F.col(id_col),
        F.explode(ngram_buckets(text_col, n_buckets, hash_fn)).alias("bucket"),
    )
    scores = (
        ex.join(F.broadcast(log_ratio), "bucket")
        .groupBy(id_col)
        .agg(F.round(F.sum("log_ratio"), 6).alias("dsir_score"))
    )
    return df.select(id_col).join(scores, id_col, "left").select(
        id_col, F.coalesce("dsir_score", F.lit(0.0)).alias("dsir_score")
    )


def dsir_fit_score(
    df: DataFrame,
    target_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    alpha: float = 1.0,
    hash_fn: str = "md5",
    cache: bool = True,
) -> DataFrame:
    """Single-featurize fit+score for the common DSIR deployment where the
    target is a SLICE of the raw corpus (``target_pred`` a boolean column
    over ``df``'s rows): explode ONCE carrying the flag, aggregate both
    corpus counts in one partial-agg pass (``count_if`` for the target
    leg), and score off the same exploded frame — one featurize total vs
    the general two-corpus path's three. Identical output to
    ``fit_bucket_log_ratio`` + ``dsir_scores`` (pinned in tests): with
    target ⊆ raw every target bucket exists in the raw counts, so the
    flagged single aggregation reproduces the full-outer join exactly.

    ``cache=True`` persists the exploded frame so the fit job (executed
    for the broadcast) and the scoring job share it — lazy, bounded by
    corpus gram count; pass False for plan-only consumers."""
    bk = df.select(
        F.col(id_col),
        target_pred.alias("is_t"),
        F.explode(ngram_buckets(text_col, n_buckets, hash_fn)).alias("bucket"),
    )
    if cache:
        # eager localCheckpoint, not a lazy persist: the function returns a
        # lazy frame and callers get no handle to unpersist, so a persist
        # here leaked one corpus-gram-sized cached relation PER CALL for
        # the session lifetime (review finding — the quota_sample leak
        # class); checkpointed blocks are ContextCleaner-managed
        bk = bk.localCheckpoint(eager=True)
    counts = bk.groupBy("bucket").agg(
        F.count("*").alias("cr"), F.count_if(F.col("is_t")).alias("ct")
    )
    ratio = _log_ratio_projection(counts, alpha, n_buckets)
    scores = (
        bk.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(F.round(F.sum("log_ratio"), 6).alias("dsir_score"))
    )
    return df.select(id_col).join(scores, id_col, "left").select(
        id_col, F.coalesce("dsir_score", F.lit(0.0)).alias("dsir_score")
    )


def log_ratio_array(log_ratio: DataFrame, n_buckets: int = 4096) -> list[float]:
    """Collect the fitted log-ratio table into a dense ``list[float]``
    indexed by bucket id (missing buckets → 0.0, the inner-join-drop
    convention of :func:`dsir_scores`). The collect is bounded by
    ``n_buckets`` BY CONSTRUCTION (same bounded-collect class as the IVF
    centroid literals) — this is the handoff from the distributed fit to
    the row-local scorer below."""
    arr = [0.0] * n_buckets
    for r in log_ratio.collect():
        arr[int(r["bucket"])] = float(r["log_ratio"])
    return arr


def dsir_score_col(
    text: Column | str, ratio_arr: list[float], hash_fn: str = "md5"
) -> Column:
    """Row-local DSIR score: ONE array-literal lookup per n-gram, folded
    with ``F.aggregate`` — no explode, no join, no shuffle. This is the
    10^12-turn scoring plan (a pure projection over the corpus scan) and,
    being stateless, the streaming scorer too: apply it to a readStream
    DataFrame directly. The literal rides the plan the way the IVF
    centroid matrix does (one array, not B inlined expressions — the
    codegen lesson of similarity.ivf_cell). Equality with the gated
    explode-path scorer is pinned in tests. ``hash_fn`` MUST match the
    one the ratio table was fitted with."""
    lit_arr = arr_lit(ratio_arr)  # SQL-text literal: ~5 ms vs ~0.5 s py4j at B=1024
    bks = ngram_buckets(text, n_buckets=len(ratio_arr), hash_fn=hash_fn)
    return F.round(
        F.aggregate(
            bks,
            F.lit(0.0),
            lambda acc, b: acc + F.element_at(lit_arr, b.cast("int") + 1),
        ),
        6,
    )


def gumbel_topk(
    scored: DataFrame,
    k: int,
    id_col: str = "doc_id",
    score_col: str = "dsir_score",
    seed: int = 7,
    temperature: float = 1.0,
    hash_fn: str = "md5",
) -> DataFrame:
    """Resample without replacement: Gumbel-top-k over the importance
    scores (equivalent to sampling proportional to ``exp(score/T)``
    without replacement — Gumbel-max trick). The uniform comes from the
    portable md5 hash of ``seed:id``, so the draw is deterministic and
    engine-independent; TakeOrderedAndProject keeps it a top-k, not a
    global sort. Output adds ``gumbel_key`` (ties broken by id)."""
    tag = F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))
    h = (
        F.pmod(F.xxhash64(tag), F.lit(2**60)) if hash_fn == "xxhash64" else md5_60bit(tag)
    )
    # least(): (h+1)/denom can ROUND to exactly 1.0 in double for the top
    # ~64 hash values (verified), where -log(-log(u)) is NULL in Spark and
    # ln(0) errors in DuckDB — clamp to the largest double below 1, same
    # clamp in the oracle SQL
    u = F.least((h + 1) / F.lit(_U_DENOM), F.lit(1.0 - 2**-53))
    g = F.round(-F.log(-F.log(u)), 9)
    key = F.round(F.col(score_col) / F.lit(float(temperature)) + g, 6)
    return (
        scored.select(id_col, score_col, key.alias("gumbel_key"))
        .orderBy(F.desc("gumbel_key"), F.asc(id_col))
        .limit(k)
    )
