"""Gopher-style repetition quality signals (Rae et al. 2021, arXiv:2112.11446).

The classic training-corpus repetition filters the reference's derived flag
columns (profiler.py:810-820) don't cover but a 100 TB corpus pipeline
needs: duplicate-line fraction, duplicate-line character fraction, and the
top/duplicate word-n-gram character fractions, with the paper's Table A1
drop thresholds.

Shape (scale-first, zero Python):

    one projected array of (kind, item) structs per document
      kind ∈ {line, g2, g3, g4, g5} — fused exactly like the profiler's
      value-counts pass (profiler/core.py job 2)
    → ONE explode → groupBy(doc_id, kind, item).count()   [shuffle 1]
    → groupBy(doc_id) with per-kind conditional aggregates [shuffle 2]
    → left join back to the id spine for zero-fill         [co-keyed join]

Both shuffles partial-aggregate map-side; per-document state never exceeds
the document's own n-gram set, so skew is bounded by max document length,
not corpus size. No argmax is needed for the "most frequent n-gram"
metric: we take ``max(cnt * length(gram))`` — the n-gram covering the most
characters — which equals the paper's metric for the unique-mode case and
is deterministic under frequency ties (documented deviation).

Definitions (frozen; the DuckDB oracle in queries.py mirrors them exactly):
  * lines = non-empty trimmed '\\n'-splits of the raw text
  * word n-grams = space-joined windows over the whitespace tokens of
    lower(text) (the shared token spec, functions/text.py)
  * dup_line_frac        = 1 - distinct_lines / total_lines
  * dup_line_char_frac   = chars in repeat occurrences beyond the first /
                           total line chars
  * top_{n}gram_char_frac = max over grams of cnt*len(gram) / total gram chars
  * dup_{n}gram_char_frac = chars in occurrences beyond the first / total
  * keep = no Table-A1 threshold exceeded
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from piperider_spark.functions.text import en_stopword_hits, token_windows, tokens

# Drop thresholds from Rae et al. 2021, Table A1.
DUP_LINE_FRAC_MAX = 0.30
DUP_LINE_CHAR_FRAC_MAX = 0.20
TOP_NGRAM_CHAR_FRAC_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
DUP_NGRAM_CHAR_FRAC_MAX = {5: 0.15}

def _empty() -> Column:
    # built lazily: no-arg F.array() needs an active session at call time
    return F.array().cast("array<string>")


def word_ngrams(toks: Column, n: int) -> Column:
    """Space-joined word n-grams; fewer than n tokens → empty array.

    The ``when`` guard matters: :func:`token_windows` needs at least n
    tokens (a shorter array makes a negative slice length)."""
    return F.when(F.size(toks) >= n, token_windows(toks, n)).otherwise(_empty())


def _kinded(kind: str, arr: Column) -> Column:
    return F.transform(
        arr, lambda x: F.struct(F.lit(kind).alias("kind"), x.alias("item"))
    )


def gopher_repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition metrics + keep flag (module docstring spec)."""
    from piperider_spark.operators.dedup import _ensure_parallel

    # n-gram construction is string-heavy (4 gram sizes per token) — the
    # same narrow-scan hazard as the shingle stages: re-split to full width
    df = _ensure_parallel(df)
    text = F.col(text_col)
    toks = tokens(F.lower(text))
    lines = _trimmed_lines(text)  # single-sourced line spec (shared with
    # gopher_quality_stats — a drift here would desync the repetition
    # metrics from the quality metrics and the DuckDB oracle)

    top_ns = sorted(TOP_NGRAM_CHAR_FRAC_MAX)
    dup_ns = sorted(DUP_NGRAM_CHAR_FRAC_MAX)
    # pre-project toks once: each word_ngrams() otherwise re-derives the
    # split/lower (Catalyst does not share the subexpression across the
    # four n-gram transforms — same finding as gopher_quality_stats)
    pre = df.select(
        F.col(id_col), toks.alias("_gr_toks"), lines.alias("_gr_lines")
    )
    tk = F.col("_gr_toks")
    arrs = [_kinded("line", F.col("_gr_lines"))] + [
        _kinded(f"g{n}", word_ngrams(tk, n)) for n in top_ns + dup_ns
    ]
    items = (
        pre.select(F.col(id_col), F.explode(F.concat(*arrs)).alias("p"))
        .select(id_col, "p.kind", "p.item")
    )
    counts = items.groupBy(id_col, "kind", "item").agg(
        F.count(F.lit(1)).alias("cnt")
    )

    cnt, ln = F.col("cnt"), F.length(F.col("item"))

    def k(kind: str) -> Column:
        return F.col("kind") == kind

    aggs = [
        F.sum(F.when(k("line"), cnt)).alias("line_n"),
        F.count(F.when(k("line"), 1)).alias("line_d"),
        F.sum(F.when(k("line"), ln * cnt)).alias("line_chars"),
        F.sum(F.when(k("line"), ln * (cnt - 1))).alias("line_dup_chars"),
    ]
    for n in top_ns:
        aggs += [
            F.max(F.when(k(f"g{n}"), cnt * ln)).alias(f"g{n}_top_chars"),
            F.sum(F.when(k(f"g{n}"), cnt * ln)).alias(f"g{n}_chars"),
        ]
    for n in dup_ns:
        aggs += [
            F.sum(F.when(k(f"g{n}"), ln * (cnt - 1))).alias(f"g{n}_dup_chars"),
            F.sum(F.when(k(f"g{n}"), cnt * ln)).alias(f"g{n}_chars"),
        ]
    per_doc = counts.groupBy(id_col).agg(*aggs)

    def ratio(num: str, den: str) -> Column:
        # NULL (doc absent / kind absent) falls through to the 0.0 branch
        return F.when(
            F.col(den) > 0, F.round(F.col(num).cast("double") / F.col(den), 6)
        ).otherwise(F.lit(0.0))

    metrics: dict[str, Column] = {
        "dup_line_frac": F.when(
            F.col("line_n") > 0,
            F.round(1.0 - F.col("line_d") / F.col("line_n").cast("double"), 6),
        ).otherwise(F.lit(0.0)),
        "dup_line_char_frac": ratio("line_dup_chars", "line_chars"),
    }
    for n in top_ns:
        metrics[f"top_{n}gram_char_frac"] = ratio(f"g{n}_top_chars", f"g{n}_chars")
    for n in dup_ns:
        metrics[f"dup_{n}gram_char_frac"] = ratio(f"g{n}_dup_chars", f"g{n}_chars")

    drop = (
        (metrics["dup_line_frac"] > DUP_LINE_FRAC_MAX)
        | (metrics["dup_line_char_frac"] > DUP_LINE_CHAR_FRAC_MAX)
    )
    for n, t in TOP_NGRAM_CHAR_FRAC_MAX.items():
        drop = drop | (metrics[f"top_{n}gram_char_frac"] > t)
    for n, t in DUP_NGRAM_CHAR_FRAC_MAX.items():
        drop = drop | (metrics[f"dup_{n}gram_char_frac"] > t)

    spine = df.select(id_col)
    return spine.join(per_doc, id_col, "left").select(
        F.col(id_col),
        *[c.alias(name) for name, c in metrics.items()],
        (~drop).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Gopher quality rules (non-repetition) and C4 heuristic filters
# ---------------------------------------------------------------------------

# Gopher Table A1 quality thresholds (Rae et al. 2021).
WORD_COUNT_MIN, WORD_COUNT_MAX = 50, 100_000
MEAN_WORD_LEN_MIN, MEAN_WORD_LEN_MAX = 3.0, 10.0
SYMBOL_WORD_RATIO_MAX = 0.10
ALPHA_WORD_FRAC_MIN = 0.80
BULLET_LINE_FRAC_MAX = 0.90
ELLIPSIS_LINE_FRAC_MAX = 0.30
STOPWORD_HITS_MIN = 2

_BULLETS = ("•", "‣", "▶", "- ", "* ")
_ELLIPSES = ("...", "…")


def _trimmed_lines(text: Column) -> Column:
    """Non-empty trimmed '\\n'-splits — the same line spec as
    gopher_repetition_stats (module docstring)."""
    return F.when(text.isNull(), _empty()).otherwise(
        F.filter(
            F.transform(F.split(text, "\n"), lambda l: F.trim(l)),
            lambda l: F.length(l) > 0,
        )
    )


def gopher_quality_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher's non-repetition quality filters (Rae et al. 2021 Table A1)
    as one row-local projection — ZERO shuffles, so at 100 TB this is a
    pure scan: every metric whole-stage-codegens next to the parquet reader.

    Frozen spec (the DuckDB oracle in queries.py mirrors it exactly):
      * words = the shared whitespace token spec over lower(text)
      * mean_word_len = chars across words / n_words
      * symbol_ratio = (count('#') + count('...', non-overlapping)
                        + count('…')) / n_words
      * alpha_word_frac = words containing >=1 unicode letter / n_words
      * bullet_line_frac = trimmed non-empty lines starting with a bullet
        marker (•, ‣, ▶, "- ", "* ")
      * ellipsis_line_frac = trimmed non-empty lines ending in '...' or '…'
      * stop_hits = whole-word hits of the frozen EN stopword list
      * keep = every Table-A1 bound satisfied (NULL text drops: n_words=0)
    """
    # Pre-project the token/line arrays ONCE: Catalyst does not eliminate a
    # repeated tokens()/lines() subexpression across sibling metric columns
    # (measured: the fused single projection re-tokenized per metric —
    # 2.65 s warm / 7.7 s cold at sf0.1 vs 1.25 s / 1.5 s for this shape).
    # CollapseProject keeps the split because the aliases are multiply
    # referenced and non-cheap.
    df = df.select(
        F.col(id_col),
        F.col(text_col).alias("_gq_text"),
        tokens(F.lower(F.col(text_col))).alias("_gq_toks"),
        _trimmed_lines(F.col(text_col)).alias("_gq_lines"),
    )
    text = F.col("_gq_text")
    toks = F.col("_gq_toks")
    n_words = F.size(toks)
    nw = n_words.cast("double")
    lines = F.col("_gq_lines")
    n_lines = F.size(lines)

    mean_word_len = F.when(n_words > 0, F.length(F.array_join(toks, "")) / nw)
    n_symbols = (
        F.coalesce(F.regexp_count(text, F.lit(r"#")), F.lit(0))
        + F.coalesce(F.regexp_count(text, F.lit(r"\.\.\.")), F.lit(0))
        + F.coalesce(F.regexp_count(text, F.lit("…")), F.lit(0))
    )
    symbol_ratio = F.when(n_words > 0, n_symbols / nw).otherwise(F.lit(0.0))
    alpha_word_frac = F.when(
        n_words > 0,
        F.size(F.filter(toks, lambda w: w.rlike(r"\p{L}"))) / nw,
    ).otherwise(F.lit(0.0))

    def line_frac(pred) -> Column:
        return F.when(
            n_lines > 0, F.size(F.filter(lines, pred)) / n_lines.cast("double")
        ).otherwise(F.lit(0.0))

    bullet_line_frac = line_frac(
        lambda l: reduce_or([l.startswith(b) for b in _BULLETS])
    )
    ellipsis_line_frac = line_frac(
        lambda l: reduce_or([l.endswith(e) for e in _ELLIPSES])
    )
    stop_hits = en_stopword_hits(text)

    m = {
        "n_words": n_words.cast("bigint"),
        "mean_word_len": F.round(mean_word_len, 6),
        "symbol_ratio": F.round(symbol_ratio, 6),
        "alpha_word_frac": F.round(alpha_word_frac, 6),
        "bullet_line_frac": F.round(bullet_line_frac, 6),
        "ellipsis_line_frac": F.round(ellipsis_line_frac, 6),
        "stop_hits": F.coalesce(stop_hits, F.lit(0)).cast("bigint"),
    }
    keep = (
        n_words.between(WORD_COUNT_MIN, WORD_COUNT_MAX)
        & mean_word_len.between(MEAN_WORD_LEN_MIN, MEAN_WORD_LEN_MAX)
        & (symbol_ratio <= SYMBOL_WORD_RATIO_MAX)
        & (alpha_word_frac >= ALPHA_WORD_FRAC_MIN)
        & (bullet_line_frac <= BULLET_LINE_FRAC_MAX)
        & (ellipsis_line_frac <= ELLIPSIS_LINE_FRAC_MAX)
        & (m["stop_hits"] >= STOPWORD_HITS_MIN)
    )
    return df.select(
        F.col(id_col),
        *[c.alias(name) for name, c in m.items()],
        F.coalesce(keep, F.lit(False)).alias("keep"),
    )


def reduce_or(preds: list[Column]) -> Column:
    out = preds[0]
    for p in preds[1:]:
        out = out | p
    return out


# C4 heuristic filters (Raffel et al. 2020, §2.2). Frozen spec:
#   * lines = trimmed '\n'-splits (empty lines count as lines here — C4
#     operates on raw line structure; documented deviation from the
#     repetition spec above)
#   * a line is KEPT iff it ends with terminal punctuation (. ! ? ")
#     AND has >= 5 whitespace tokens AND lower(line) lacks 'javascript'
#   * the doc is DROPPED iff lower(text) contains 'lorem ipsum', or text
#     contains '{', or fewer than 3 lines survive (the paper's >=3-sentence
#     rule applied at line granularity — documented deviation)
C4_MIN_KEPT_LINES = 3
C4_MIN_LINE_WORDS = 5
_C4_TERMINALS = (".", "!", "?", '"')


def c4_filter_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """C4 line/document filters as one row-local projection (zero shuffle;
    see gopher_quality_stats). Returns per-doc counters, the rebuilt
    kept-lines text, and the keep flag."""
    text = F.col(text_col)
    lines = F.when(text.isNull(), _empty()).otherwise(
        F.transform(F.split(text, "\n"), lambda l: F.trim(l))
    )

    def line_ok(l: Column) -> Column:
        term = reduce_or([l.endswith(t) for t in _C4_TERMINALS])
        words = F.size(F.split(l, r"\s+")) >= C4_MIN_LINE_WORDS
        return (
            (F.length(l) > 0)
            & term
            & words
            & ~F.lower(l).contains("javascript")
        )

    kept = F.filter(lines, line_ok)
    n_lines = F.size(F.filter(lines, lambda l: F.length(l) > 0))
    n_kept = F.size(kept)
    has_lorem = F.coalesce(F.lower(text).contains("lorem ipsum"), F.lit(False))
    has_brace = F.coalesce(text.contains("{"), F.lit(False))
    keep = ~has_lorem & ~has_brace & (n_kept >= C4_MIN_KEPT_LINES)
    return df.select(
        F.col(id_col),
        F.greatest(n_lines, F.lit(0)).cast("bigint").alias("n_lines"),
        F.greatest(n_kept, F.lit(0)).cast("bigint").alias("n_kept_lines"),
        F.when(text.isNotNull(), F.array_join(kept, "\n")).alias("text_clean"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        keep.alias("keep"),
    )


# ---------------------------------------------------------------------------
# Encoding-corruption (mojibake) signal
# ---------------------------------------------------------------------------

# Frozen artifact inventory: the high-frequency signatures of UTF-8 text
# decoded as Windows-1252 and re-encoded (the classic web-crawl corruption:
# ’ -> "â€™", é -> "Ã©"). DERIVED from the true characters at import — the
# detector, the fixer, and the tests share one provably-correct mapping
# (hand-typing these bit us once: the í artifact ends in an INVISIBLE soft
# hyphen). ” is deliberately absent: its cp1252 trip hits an unmapped byte
# that usually surfaces as U+FFFD — the replacement_chars metric owns it.
# cp1252 punctuation + every Latin-1 letter whose utf-8 bytes survive the
# cp1252 trip (Á Í Ï Ð Ý hit unmapped bytes — like ”, their damage usually
# surfaces as U+FFFD and belongs to replacement_chars), + common symbols.
# Matching is literal two/three-char sequences starting "Ã"/"Â"/"â€" — a
# text legitimately containing those exact sequences (e.g. prose ABOUT
# mojibake) would be rewritten; that imprecision is inherent to every
# inventory-based fixer and the detector's frac threshold absorbs it.
_MOJIBAKE_TRUE = (
    "’“‘–—…"
    "ÀÂÃÄÅÆÇÈÉÊËÌÎÑÒÓÔÕÖØÙÚÛÜÞß"
    "àáâãäåæçèéêëìíîïðñòóôõöøùúûüýþÿ"
    "£°©®§«»"
)
MOJIBAKE_MAP = {c: c.encode("utf-8").decode("cp1252") for c in _MOJIBAKE_TRUE}
# longest-first so a fixer fold never rewrites a prefix of a longer artifact
MOJIBAKE_SEQS = tuple(
    sorted(MOJIBAKE_MAP.values(), key=lambda a: (-len(a), a))
)
# C0 controls except \t \n \r — never legitimate in transcript text
_CONTROL_CLASS = r"[\x00-\x08\x0b\x0c\x0e-\x1f]"
REPLACEMENT_CHAR_FRAC_MAX = 0.0  # any U+FFFD marks an upstream decode error
MOJIBAKE_FRAC_MAX = 0.001  # artifact chars per char
CONTROL_FRAC_MAX = 0.0001


def encoding_quality_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Encoding-corruption signal: replacement characters (U+FFFD),
    double-encoding (mojibake) artifact sequences, and stray C0 control
    characters, each as a count and a per-character fraction, plus the
    frozen-threshold ``keep``.

    Same scale shape as gopher_quality_stats — a row-local projection,
    ZERO shuffles, every count a native ``regexp_count``/``length`` that
    whole-stage-codegens next to the parquet reader; at 100 TB this rides
    the same scan as every other quality rule. NULL text: counts 0,
    keep=false (no text to certify)."""
    text = F.col(text_col)
    n_chars = F.length(text)
    nc = F.greatest(n_chars, F.lit(1)).cast("double")

    repl = F.coalesce(F.regexp_count(text, F.lit("�")), F.lit(0))
    import re as _re

    moji_pat = "|".join(_re.escape(a) for a in MOJIBAKE_SEQS)
    moji = F.coalesce(F.regexp_count(text, F.lit(moji_pat)), F.lit(0))
    ctrl = F.coalesce(F.regexp_count(text, F.lit(_CONTROL_CLASS)), F.lit(0))

    repl_frac = repl / nc
    moji_frac = moji / nc
    ctrl_frac = ctrl / nc
    keep = (
        text.isNotNull()
        & (repl_frac <= REPLACEMENT_CHAR_FRAC_MAX)
        & (moji_frac <= MOJIBAKE_FRAC_MAX)
        & (ctrl_frac <= CONTROL_FRAC_MAX)
    )
    return df.select(
        F.col(id_col),
        F.coalesce(n_chars, F.lit(0)).cast("bigint").alias("n_chars"),
        repl.cast("bigint").alias("replacement_chars"),
        moji.cast("bigint").alias("mojibake_hits"),
        ctrl.cast("bigint").alias("control_chars"),
        F.round(repl_frac, 6).alias("replacement_frac"),
        F.round(moji_frac, 6).alias("mojibake_frac"),
        F.round(ctrl_frac, 6).alias("control_frac"),
        F.coalesce(keep, F.lit(False)).alias("keep"),
    )


def fix_mojibake(col: Column | str) -> Column:
    """Repair the double-encoding artifacts ``encoding_quality_stats``
    detects: a fold of native literal ``replace`` calls (longest artifact
    first — MOJIBAKE_SEQS order), one per inventory entry, driven by the
    same derived MOJIBAKE_MAP so detect and repair cannot drift. No regex,
    no UDF — whole-stage-codegens like any string expression; apply before
    re-profiling rather than silently inside the frozen keep/drop spec
    (repair changes text, and the scrub byte-equality contract is sacred).
    Artifacts outside the inventory (and true U+FFFD damage, which is
    unrecoverable) pass through unchanged."""
    out = F.col(col) if isinstance(col, str) else col
    inverse = {a: c for c, a in MOJIBAKE_MAP.items()}
    for artifact in MOJIBAKE_SEQS:
        out = F.replace(out, F.lit(artifact), F.lit(inverse[artifact]))
    return out
